package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table helpers — the shuffle-elimination story for repeated
  * big-big joins at 100 TB (SURVEY §7.1: "bucketing for co-located
  * joins").
  *
  * Writing both fact tables bucketed by the join key (same bucket
  * count) makes every subsequent equi-join on that key exchange-free:
  * each task reads matching bucket files from both sides. The write
  * pays one shuffle ONCE; every downstream join, groupBy, or
  * `dropDuplicates` on the bucket key then skips its exchange —
  * the right trade whenever a fact is joined more often than it is
  * rewritten. BucketingSpec asserts the exchange-free plan.
  */
object Bucketing {

  /** Join two same-bucketed tables on their bucket keys; the physical
    * plan contains no Exchange for either side. */
  def coLocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      keys: Seq[String]): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), keys)

  /** Drop any stale version of `table` — catalog entry AND warehouse
    * directory (an in-memory catalog forgets its tables across JVMs
    * but the directories persist, and saveAsTable(Overwrite) refuses a
    * dir it has no catalog entry for) — then write `df` fresh as a
    * bucketed managed table, sorted within buckets for sort-merge-ready
    * reads. The location comes from the catalog's own path resolution
    * (not warehouse-dir string munging), so non-default databases,
    * URI-escaped paths, and non-local warehouses all clean correctly. */
  def rewriteBucketed(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String]): Unit = {
    dropManaged(df.sparkSession, table)
    // repartition on the bucket keys first: otherwise every input task
    // opens a writer per bucket (tasks x buckets small files) and
    // multi-file buckets forfeit the sortBy guarantee downstream
    df.repartition(buckets, keys.map(df.col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Drop a managed table AND its warehouse directory (an in-memory
    * catalog forgets its tables across JVMs but the directories
    * persist, and a managed-table write refuses a location it has no
    * catalog entry for). Shared by the bucketed rewrites and the
    * streaming probe's sink table. */
  def dropManaged(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true): Unit
  }

  /** Stamps of the state at rest this JVM has built: key -> stamp.
    * In-JVM only, deliberately: cross-JVM reuse would require
    * re-registering the bucket spec in a fresh in-memory catalog, and
    * a stamp this JVM wrote can never come from an older binary — a
    * rebuild is the safe answer for anything else. */
  private val builtStamps = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def resetBuiltStamps(): Unit = builtStamps.clear()
  /** Observability probe for the specs: rebuilds performed by
    * [[ensureBuilt]] (same pattern as Tables.footerReads). */
  private[graft] val ensureRebuilds = new java.util.concurrent.atomic.AtomicLong

  /** Run `build` only when this JVM has not already built `key` from
    * identical source state and the built state is still `present` —
    * the rule for everything kept at rest (bucketed tables, the served
    * ANN index): built once, then served many times; paying the build
    * per call would cancel the point of keeping it. `fingerprint`
    * (the source's `Tables.Meta` fingerprint) keys the decision: None always
    * rebuilds, a changed source fingerprint (regenerated source,
    * different sfDir in the same JVM) rebuilds, an unchanged one
    * skips. Serialized in-JVM; concurrent cross-process builders of the
    * SAME warehouse are out of contract (production serializes table
    * and index maintenance in the scheduler). */
  def ensureBuilt(key: String, fingerprint: Option[String], present: => Boolean)
      (build: => Unit): Unit = synchronized {
    val fresh = fingerprint.exists(s => builtStamps.get(key).contains(s)) && present
    if (!fresh) {
      ensureRebuilds.incrementAndGet(): Unit
      build
      fingerprint match {
        case Some(s) => builtStamps(key) = s
        case None    => builtStamps.remove(key): Unit
      }
    }
  }

  /** Build bucketed `table` from `df` under the [[ensureBuilt]] rule —
    * the production bucketing shape: a fact is bucketed when it is
    * (re)loaded, then joined many times at rest. The stamp also
    * carries the bucket spec, so a different spec rebuilds. `df` is
    * by name: it is evaluated only when the table is rebuilt. */
  def ensureBucketed(spark: SparkSession, df: => DataFrame, table: String, buckets: Int,
      keys: Seq[String], fingerprint: Option[String]): Unit =
    ensureBuilt(table, fingerprint.map(fp => s"v1#b$buckets#k${keys.mkString(",")}#$fp"),
      spark.catalog.tableExists(table)) {
      rewriteBucketed(df, table, buckets, keys)
    }
}
