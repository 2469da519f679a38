package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators over `documents`: token counting (whitespace
  * + BPE-ish regex), language-ID by marker-word scoring, quality
  * scoring, and content fingerprinting (sorted-shingle md5 + polynomial
  * rolling hash). Everything is built-in expressions (codegen'd, no
  * UDFs), and every query carries an exact DuckDB oracle.
  *
  * At 100 TB these are embarrassingly parallel map-side column
  * pipelines — no shuffle at all until a downstream groupBy, which is
  * exactly how they should be: the scan dominates, so keeping the
  * expressions inside whole-stage codegen is the whole game.
  */
object TextAnalysis {

  private val ws = Dedup.toksSpark // lower + non-alnum split + drop empties

  // BPE-ish segmentation: letter runs, digit runs, single non-space symbols.
  private val bpePat = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]"

  // ---------------------------------------------------------------------
  // text_token_stats
  // ---------------------------------------------------------------------
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    // tok_stats is the one-pass kernel twin of the declarative form
    // (see TextKernels scaladoc for the per-field exactness contract;
    // FunctionsSpec pins the equivalence property-style). It runs at
    // most twice per row (the pushed filter + the projection) instead
    // of four tokenizations plus two whole-string regex passes.
    Tables.loadBalanced(spark, dir, "documents")
      .withColumn("ts", expr("tok_stats(text, array())"))
      .filter(col("ts.n_tokens") > 0)
      .select(
        col("doc_id"),
        col("ts.n_tokens").as("n_tokens"),
        col("ts.n_bpe").as("n_bpe_tokens"),
        length(col("text")).as("n_chars_txt"),
        col("ts.sum_tok_len").as("sum_tok_len"),
        (col("ts.sum_tok_len") / col("ts.n_tokens")).as("avg_token_len"),
        (col("ts.n_punct") / length(col("text"))).as("punct_ratio"))
      .orderBy("doc_id")
  }

  val tokenStatsSql: String =
    s"""WITH t AS (SELECT *, ${Dedup.toksSql} AS toks FROM documents)
       |SELECT doc_id,
       |  CAST(len(toks) AS INT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT) AS n_bpe_tokens,
       |  CAST(len(text) AS INT) AS n_chars_txt,
       |  CAST(list_sum(list_transform(toks, x -> len(x))) AS INT) AS sum_tok_len,
       |  CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) AS avg_token_len,
       |  CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) / len(text) AS punct_ratio
       |FROM t WHERE len(toks) > 0
       |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // text_langid — n-gram/marker-word heuristic scored per language, with
  // a deterministic argmax. (The corpus is synthetic so this checks the
  // operator, not linguistic accuracy.)
  // ---------------------------------------------------------------------
  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " is "),
    "de" -> Seq(" der ", " und ", " die "),
    "es" -> Seq(" el ", " la ", " que "),
    "fr" -> Seq(" le ", " les ", " et "))

  /** Occurrence count of `m` in padded lowered text, as exact integers. */
  private def occSpark(m: String): String =
    s"(length(padded) - length(replace(padded, '$m', ''))) div ${m.length}"
  private def occSql(m: String): String =
    s"(len(padded) - len(replace(padded, '$m', ''))) // ${m.length}"

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.loadBalanced(spark, dir, "documents")
      .withColumn("padded", concat(lit(" "), lower(col("text")), lit(" ")))
      .withColumn("score_en", expr(markers("en").map(occSpark).mkString(" + ")))
      .withColumn("score_de", expr(markers("de").map(occSpark).mkString(" + ")))
      .withColumn("score_es", expr(markers("es").map(occSpark).mkString(" + ")))
      .withColumn("score_fr", expr(markers("fr").map(occSpark).mkString(" + ")))
    scored.select(col("doc_id"), col("lang").as("labeled_lang"),
        col("score_en"), col("score_de"), col("score_es"), col("score_fr"),
        expr(
          """CASE
            |  WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
            |  WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
            |  WHEN score_es >= score_fr THEN 'es'
            |  ELSE 'fr' END""".stripMargin).as("pred_lang"))
      .orderBy("doc_id")
  }

  val langIdSql: String = {
    def s(l: String) = markers(l).map(occSql).mkString(" + ")
    s"""WITH t AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS padded FROM documents),
       |scored AS (SELECT doc_id, lang AS labeled_lang,
       |  ${s("en")} AS score_en, ${s("de")} AS score_de,
       |  ${s("es")} AS score_es, ${s("fr")} AS score_fr FROM t)
       |SELECT doc_id, labeled_lang, score_en, score_de, score_es, score_fr,
       |  CASE
       |    WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
       |    WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
       |    WHEN score_es >= score_fr THEN 'es'
       |    ELSE 'fr' END AS pred_lang
       |FROM scored ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // text_fingerprint — order-insensitive content fingerprint (md5 of the
  // sorted distinct token set: the 100 TB exact-dedup key) + an
  // order-SENSITIVE polynomial rolling hash mod 1e9+7.
  // ---------------------------------------------------------------------
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.loadBalanced(spark, dir, "documents")
      .withColumn("toks", expr(ws))
      .filter(size(col("toks")) > 0)
      .select(
        col("doc_id"),
        expr("md5(cast(array_join(array_sort(array_distinct(toks)), ' ') AS binary))")
          .as("fingerprint"),
        expr(
          s"""aggregate(toks, 0L,
             |  (acc, x) -> (acc * 31 + (${Dedup.tokHash60Spark("x")} % 1000000007)) % 1000000007)"""
            .stripMargin).as("rolling_hash"))
      .orderBy("doc_id")

  val fingerprintSql: String =
    s"""WITH t AS (SELECT doc_id, ${Dedup.toksSql} AS toks FROM documents)
       |SELECT doc_id,
       |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(toks, x -> ${Dedup.tokHash60Sql("x")} % 1000000007)),
       |    (acc, h) -> (acc * 31 + h) % 1000000007) AS rolling_hash
       |FROM t WHERE len(toks) > 0
       |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // text_quality — composite quality score from length, punctuation,
  // token shape and stopword density; bucketed.
  // ---------------------------------------------------------------------
  private val stopwordsList = Seq("the", "a", "and", "of", "to", "in", "is")
  private val stopArrSpark = stopwordsList.map(w => s"'$w'").mkString("array(", ", ", ")")
  private val stopArrSql = stopwordsList.map(w => s"'$w'").mkString("[", ", ", "]")

  def quality(spark: SparkSession, dir: String): DataFrame = {
    // same kernel as tokenStats, with the stopword list pushed into
    // the token scan (n_stop) — one pass instead of a second
    // tokenize + interpreted array_contains filter per row
    Tables.loadBalanced(spark, dir, "documents")
      .withColumn("ts", expr(s"tok_stats(text, $stopArrSpark)"))
      .filter(col("ts.n_tokens") > 0)
      .withColumn("n_tokens", col("ts.n_tokens"))
      .withColumn("avg_token_len", col("ts.sum_tok_len") / col("ts.n_tokens"))
      .withColumn("punct_ratio", col("ts.n_punct") / length(col("text")))
      .withColumn("stopword_ratio", col("ts.n_stop") / col("ts.n_tokens"))
      .withColumn("quality_score",
        least(col("n_tokens") / 100.0, lit(1.0)) * 0.3
          + (lit(1.0) - col("punct_ratio")) * 0.3
          + least(col("avg_token_len") / 8.0, lit(1.0)) * 0.2
          + col("stopword_ratio") * 0.2)
      .withColumn("quality_bucket",
        when(col("quality_score") >= 0.6, "high")
          .when(col("quality_score") >= 0.4, "medium")
          .otherwise("low"))
      .select("doc_id", "n_tokens", "avg_token_len", "punct_ratio",
        "stopword_ratio", "quality_score", "quality_bucket")
      .orderBy("doc_id")
  }

  val qualitySql: String =
    s"""WITH t AS (SELECT doc_id, text, ${Dedup.toksSql} AS toks FROM documents),
       |f AS (SELECT doc_id,
       |  CAST(len(toks) AS INT) AS n_tokens,
       |  CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) AS avg_token_len,
       |  CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) / len(text) AS punct_ratio,
       |  CAST(len(list_filter(toks, x -> list_contains($stopArrSql, x))) AS DOUBLE) / len(toks) AS stopword_ratio
       |FROM t WHERE len(toks) > 0)
       |SELECT doc_id, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
       |  least(n_tokens / 100.0, 1.0) * 0.3 + (1.0 - punct_ratio) * 0.3
       |    + least(avg_token_len / 8.0, 1.0) * 0.2 + stopword_ratio * 0.2 AS quality_score,
       |  CASE
       |    WHEN least(n_tokens / 100.0, 1.0) * 0.3 + (1.0 - punct_ratio) * 0.3
       |      + least(avg_token_len / 8.0, 1.0) * 0.2 + stopword_ratio * 0.2 >= 0.6 THEN 'high'
       |    WHEN least(n_tokens / 100.0, 1.0) * 0.3 + (1.0 - punct_ratio) * 0.3
       |      + least(avg_token_len / 8.0, 1.0) * 0.2 + stopword_ratio * 0.2 >= 0.4 THEN 'medium'
       |    ELSE 'low' END AS quality_bucket
       |FROM f ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // text_winnow — winnowing fingerprint selection (Schleimer et al.,
  // "Winnowing: Local Algorithms for Document Fingerprinting" — the
  // MOSS technique): over the POSITIONAL 3-gram hash sequence, slide a
  // window of 4 and keep each window's minimum hash; the distinct kept
  // values are the document's fingerprints. The guarantee: any shared
  // substring of ≥ k+w−1 tokens contributes at least one common
  // fingerprint, so two docs can be compared on ~1/w of their grams —
  // the sampling layer between exact hashing (every gram) and minhash
  // (global sketch). Ties break to the RIGHTMOST minimal gram by
  // packing (48-bit hash, 1023 − position mod 1024) into one long and
  // taking the numeric min — deterministic in both engines; the
  // position cycle only affects WHICH of two equal-hash grams is kept,
  // never the fingerprint value set of a ≤1023-gram window span.
  // Scale shape: pure per-row array expressions, no shuffle before the
  // final sort; fingerprints would feed an inverted index exactly like
  // dedup_ngram_jaccard's at 1/w the postings.
  // ---------------------------------------------------------------------
  private[graft] val winnowW = 4

  /** 48-bit md5-derived gram hash (the shared [[Dedup.hexHashSpark]]
    * idiom) — small enough that hash·1024+tie packs into a long. */
  private def gramHash48Spark(v: String): String = Dedup.hexHashSpark(v, 1, 12)
  private def gramHash48Sql(v: String): String = Dedup.hexHashSql(v, 1, 12)

  /** (doc_id, enc, fps) — the selected-fingerprint sets, shared by the
    * catalog query (projects counts) and the shared-substring
    * guarantee spec (needs the sets themselves). */
  private[graft] def winnowSets(spark: SparkSession, dir: String): DataFrame = {
    val gram = "concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2))"
    Tables.loadBalanced(spark, dir, "documents")
      .withColumn("toks", expr(ws))
      .filter(size(col("toks")) >= 3) // at least one 3-gram
      .withColumn("enc", expr(
        s"""transform(sequence(1, size(toks) - 2),
           |  i -> ${gramHash48Spark(gram)} * 1024 + (1023 - pmod(i, 1024)))""".stripMargin))
      // standard winnowing short-doc rule: with 0 < m < w grams the
      // single window spans all of them (slice caps at the array end),
      // so a 3-5 token doc still gets a fingerprint and stays
      // comparable — every sibling text query covers all non-empty docs
      .withColumn("fps", expr(
        s"""array_distinct(transform(
           |  sequence(1, greatest(1, size(enc) - $winnowW + 1)),
           |  j -> array_min(slice(enc, j, $winnowW)) div 1024))""".stripMargin))
  }

  def winnow(spark: SparkSession, dir: String): DataFrame =
    winnowSets(spark, dir)
      .select(col("doc_id"), size(col("enc")).as("n_grams"),
        size(col("fps")).as("n_fps"),
        // order-free overflow-safe checksum: sum the LOW 31 BITS of
        // each fingerprint (≤ 2³¹ per term — a full int64 sum wraps in
        // Spark but errors in DuckDB's HUGEINT→BIGINT cast on a long
        // enough doc, and a stepwise-mod fold would depend on
        // list_distinct's order, which DuckDB does not guarantee)
        expr("aggregate(fps, 0L, (a, x) -> a + pmod(x, 2147483648))").as("sum_fps"),
        expr("array_min(fps)").as("min_fp"), expr("array_max(fps)").as("max_fp"))
      .orderBy("doc_id")

  val winnowSql: String = {
    val gram = "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]"
    s"""WITH t AS (SELECT doc_id, ${Dedup.toksSql} AS toks FROM documents),
       |e AS (SELECT doc_id,
       |    list_transform(range(1, len(toks) - 1),
       |      i -> ${gramHash48Sql(gram)} * 1024 + (1023 - i % 1024)) AS enc
       |  FROM t WHERE len(toks) >= 3),
       |f AS (SELECT doc_id, len(enc) AS m,
       |    list_distinct(list_transform(range(1, greatest(1, len(enc) - ${winnowW} + 1) + 1),
       |      j -> list_min(enc[j : j + ${winnowW - 1}]) // 1024)) AS fps
       |  FROM e)
       |SELECT doc_id, CAST(m AS INT) AS n_grams, CAST(len(fps) AS INT) AS n_fps,
       |  CAST(list_sum(list_transform(fps, x -> x % 2147483648)) AS BIGINT) AS sum_fps,
       |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
       |FROM f ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_winnow"      -> (winnow _),
    "text_token_stats" -> (tokenStats _),
    "text_langid"      -> (langId _),
    "text_fingerprint" -> (fingerprint _),
    "text_quality"     -> (quality _))

  val oracles: Map[String, String] = Map(
    "text_winnow"      -> winnowSql,
    "text_token_stats" -> tokenStatsSql,
    "text_langid"      -> langIdSql,
    "text_fingerprint" -> fingerprintSql,
    "text_quality"     -> qualitySql)
}
