package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialized, Tables}

/** Corpus-statistics ranking — the IR tier of the curation stack: per-
  * document salient-term extraction by TF-IDF. Feeds keyword indexes,
  * topic labeling, and relevance-weighted sampling of training docs.
  *
  * Cross-engine exactness note: the idf factor is the RATIONAL form
  * `(N + 1) / (df + 1)` rather than its logarithm — IEEE multiply and
  * divide are correctly rounded and therefore bit-identical across
  * engines, while `ln` is a libm call whose last-ulp rounding is
  * engine-dependent (the same reasoning that keeps float `ceil`/`log2`
  * out of every bucket boundary in this catalog). The ranking is
  * monotone in the log form, so top-k per doc is unchanged.
  */
object Ranking {

  // ---------------------------------------------------------------------
  // corpus_tfidf_topk — the K most TF-IDF-salient terms per document.
  // Scale shape: ONE tokenize/explode feeds both the tf aggregate
  // (map-side combined: (doc, term) keys collapse before the shuffle)
  // and the df aggregate (a distinct (term, doc) shuffle — inherent to
  // exact document frequencies; at 100 TB swap df to a mergeable
  // approx_count_distinct sketch exactly as corpus_ngram_topk
  // documents). The corpus-size scalar N rides a broadcast 1-row
  // frame, never a driver-side collect. The per-doc top-k is a window
  // over the tf rows — input already one row per (doc, term), so the
  // window sorts candidate terms, not raw tokens; ties break on the
  // term string for a deterministic cut.
  // ---------------------------------------------------------------------
  private[graft] val tfidfTopK = 5

  def tfidfTopk(spark: SparkSession, dir: String): DataFrame =
    tfidfTopkOver(Tables.loadBalanced(spark, dir, "documents"))

  /** Core over any (doc_id, text) frame — exposed for the spec's
    * hand-computed fixture. */
  private[graft] def tfidfTopkOver(docs: DataFrame): DataFrame = {
    // shared by the tf branch, the df branch and the N scalar: the
    // regex tokenization of every document runs once.
    // Term frequencies are computed IN-ROW (tok_counts): per-doc
    // counts are local to the document, so the old explode + groupBy
    // (doc, term) exchange moved already-final rows (see the TokCounts
    // scaladoc). The same per-doc-distinct rows turn df into a plain
    // count per term — no two-phase countDistinct expansion.
    val base = Materialized(docs
      .withColumn("toks", expr(Dedup.toksSpark))
      .filter(size(col("toks")) > 0)
      .select("doc_id", "toks"))
    def tfRows = base
      .select(col("doc_id"), explode(expr("tok_counts(toks)")).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"),
        col("tc.tf").cast("long").as("tf"))
    val tf = tfRows
    val df = tfRows.groupBy("term").agg(count(lit(1)).as("df"))
    val n = base.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") * (col("n_docs") + 1) / (col("df") + 1))
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= tfidfTopK)
      .select("doc_id", "term", "tf", "df", "tfidf", "term_rank")
      .orderBy("doc_id", "term_rank")
  }

  val tfidfTopkSql: String =
    s"""WITH t AS (SELECT doc_id, ${Dedup.toksSql} AS toks FROM documents),
       |base AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
       |e AS (SELECT doc_id, unnest(toks) AS term FROM base),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY 1, 2),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM e GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM base),
       |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |        CAST(tf.tf AS DOUBLE) * (n.n_docs + 1) / (df.df + 1) AS tfidf
       |      FROM tf JOIN df USING (term) CROSS JOIN n),
       |r AS (SELECT *, CAST(row_number() OVER
       |        (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS term_rank
       |      FROM s)
       |SELECT doc_id, term, tf, df, tfidf, term_rank
       |FROM r WHERE term_rank <= $tfidfTopK
       |ORDER BY doc_id, term_rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_tfidf_topk" -> (tfidfTopk _))

  val oracles: Map[String, String] = Map(
    "corpus_tfidf_topk" -> tfidfTopkSql)
}
