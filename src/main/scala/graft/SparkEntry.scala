package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's full operator catalog: every operator
  * class from SURVEY.md §2 (scans, projections/filters, joins incl.
  * the faithful fanout join, hash aggs, snapshot windows, sorts/top-k,
  * metric assembly) plus the large-scale training-data-pipeline
  * extensions (dedup, similarity search, text analysis, events
  * windows). `oracleSql` carries a DuckDB-equivalent query for every
  * entry that ANSI SQL can express; the rest get rows-only checks and
  * ScalaTest specs.
  *
  * Cache rule: a sub-frame that several branches of a query share
  * (Dedup's pair indexes, Curation's tokenized projections) goes
  * through [[Materialized]], which persists it and fills it before
  * any consumer runs; nothing else in the engine persists. The ENTRY
  * POINT releases it, not the query: Verify, Bench and Explain call
  * `spark.catalog.clearCache()` after every query, and any other
  * caller (notebook, long-lived service) must do the same — a query
  * cannot unpersist a frame its result still reads. Note that
  * building a query's frame already runs the jobs that fill its
  * shared sub-frames.
  *
  * Function convention: every `queries` entry first readies the
  * session it is handed with [[GraftSession.prepare]]: the graft native
  * functions (never replacing an existing name) and the two codegen
  * defaults of [[GraftSession.CodegenDefaults]] (never replacing a key
  * the session already sets), so an external driver's plain session
  * resolves every entry and a warm pass reuses its generated classes.
  * Operator methods called directly, not through this map, need a
  * session from [[GraftSession]], or one started with
  * `spark.sql.extensions=graft.functions.GraftExtensions` plus the two
  * codegen `--conf`s.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RetailPipeline.faithful(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (Relational.queries ++ RetailPipeline.queries ++ Dedup.queries ++
      TextAnalysis.queries ++ Similarity.queries ++ Events.queries ++
      Multimodal.queries ++ MediaContainers.queries ++
      AsofJoin.queries ++ Sampling.queries ++
      Curation.queries ++ Ranking.queries ++ Layout.queries)
      .map { case (name, fn) =>
        name -> { (spark: SparkSession, dir: String) =>
          GraftSession.prepare(spark)
          fn(spark, dir)
        }
      }

  /** The names a comma-separated subset variable selects (Bench's
    * `SPARK_GRAFT_BENCH_QUERIES`, Verify's `SPARK_GRAFT_VERIFY_QUERIES`,
    * StreamBench's `SPARK_GRAFT_STREAM_OPS`); None when `envVar` is
    * unset. A value that selects nothing or names anything outside
    * `known` fails with the offending names: a typo must not become a
    * success-shaped run that skipped the entry. */
  def subset(envVar: String, known: Set[String],
      env: Map[String, String] = sys.env): Option[Set[String]] =
    env.get(envVar).map { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      require(names.nonEmpty, s"$envVar is set but selects nothing")
      val unknown = names.diff(known)
      require(unknown.isEmpty,
        s"unknown $envVar names: ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }

  def oracleSql: Map[String, String] =
    Relational.oracles ++ RetailPipeline.oracles ++ Dedup.oracles ++
      TextAnalysis.oracles ++ Similarity.oracles ++ Events.oracles ++
      Multimodal.oracles ++ MediaContainers.oracles ++
      AsofJoin.oracles ++ Sampling.oracles ++
      Curation.oracles ++ Ranking.oracles ++ Layout.oracles
}
