package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables

/** Data-layout operators — the write-side optimization tier. A 100 TB
  * lake table queried by more than one dimension (here: events filtered
  * by user AND by time) cannot sort by both; the standard answer is a
  * space-filling curve: bucket each dimension, interleave the bucket
  * bits into one Z-value, and range-partition files by that value.
  * Every file then covers a small RECTANGLE of (user, time) space, so
  * min/max file statistics prune scans for predicates on EITHER
  * dimension — the layout trick behind Delta/Iceberg Z-ordering.
  *
  * Cross-engine exactness: bit extraction is pure integer `div`/`%`
  * over non-negative ints (both dims are bucketed through a
  * non-negative modulus first), never float `pow`/shift builtins, so
  * both engines compute identical Z-values.
  */
object Layout {

  private[graft] val zDimBits = 8 // 256 buckets per dimension
  private[graft] val zFileBuckets = 32L
  private val zCells = 1L << (2 * zDimBits) // 65536 z-values
  private[graft] val zBucketWidth = zCells / zFileBuckets

  /** Bit-interleave expression over non-negative int columns `x`/`y`
    * (x in even bit positions, y in odd), as engine-portable integer
    * arithmetic. `div` is the engine's integer-division spelling —
    * exposed for the spec's known-value checks. */
  private[graft] def zExpr(x: String, y: String, div: String): String =
    (0 until zDimBits).map { i =>
      val p = 1L << i
      s"(($x $div $p) % 2) * ${1L << (2 * i)} + (($y $div $p) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  // ---------------------------------------------------------------------
  // layout_zorder — per-event Z-value and target file bucket over the
  // (user_id, hour-of-epoch) dimensions. Scale shape: a pure map-side
  // projection (fully codegen'd, no shuffle before the final sort); the
  // write step it feeds is a repartitionByRange(file_bucket) sink, and
  // the whole point is that the expensive part — clustering 100 TB —
  // is ONE range shuffle at write time that every later scan amortizes.
  // ---------------------------------------------------------------------
  def zorder(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.loadEvents(spark, dir)
      // non-negative bucket coords: user_id >= 0 by schema; the hour
      // bucket uses the catalog's floor-division idiom (sec - pmod)
      // so a pre-1970 timestamp buckets identically in both engines
      // (Spark `div` truncates toward zero, DuckDB `//` floors)
      .withColumn("zx", expr("pmod(user_id, 256)"))
      .withColumn("zy", expr("pmod((sec - pmod(sec, 3600)) div 3600, 256)"))
    df.select(col("event_id"), col("zx"), col("zy"),
        expr(zExpr("zx", "zy", "div")).as("zval"))
      .withColumn("file_bucket", expr(s"zval div $zBucketWidth"))
      .orderBy("event_id")
  }

  val zorderSql: String = {
    val sec = "CAST(floor(epoch(ts)) AS BIGINT)"
    s"""WITH b AS (SELECT event_id,
       |  ((user_id % 256) + 256) % 256 AS zx,
       |  ((($sec // 3600) % 256) + 256) % 256 AS zy
       |  FROM events)
       |SELECT event_id, zx, zy,
       |  ${zExpr("zx", "zy", "//")} AS zval,
       |  (${zExpr("zx", "zy", "//")}) // $zBucketWidth AS file_bucket
       |FROM b ORDER BY event_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // layout_compact — the OPTIMIZE pass that makes the Z-order layout
  // operational on a real lake: rewrite however many (typically small,
  // ingest-fragmented) files a table currently has into few
  // target-size files range-partitioned by Z-value. Scale shape: the
  // whole rewrite is ONE range shuffle (repartitionByRange on zval —
  // LayoutSpec asserts the single Exchange) + an in-partition sort, so
  // compacting a 100 TB table costs one pass; every file then covers a
  // narrow Z range, i.e. a small rectangle of (user, hour) space that
  // min/max stats prune on either dimension. Streaming ingest creates
  // the small-file problem continuously; this is the periodic pass
  // that repairs it.
  //
  // The catalog query performs the REAL round-trip — write the
  // compacted files to a scratch dir, read them back — and returns
  // per-Z-bucket content stats (row count + integer column checksums)
  // computed from the READ-BACK data. The DuckDB oracle computes the
  // same frame from the raw events table, so any row lost, duplicated
  // or corrupted by the physical rewrite shows up as a bucket whose
  // stats diverge: the unchanged-rows gate the operator must pass.
  // Checksums stay in integer domain end-to-end (sums of event_id /
  // user_id / sec) — a float sum would make the oracle compare depend
  // on addition order.
  // ---------------------------------------------------------------------
  private[graft] def withZval(df: DataFrame): DataFrame =
    df.withColumn("zx", expr("pmod(user_id, 256)"))
      .withColumn("zy", expr("pmod((sec - pmod(sec, 3600)) div 3600, 256)"))
      .withColumn("zval", expr(zExpr("zx", "zy", "div")))

  /** Rewrite the frame into `nFiles` Z-clustered parquet files under
    * `outPath`: one range shuffle, one in-partition sort, no other
    * exchange. Returns the frame whose write plan the spec audits. */
  private[graft] def compactPlan(df: DataFrame, nFiles: Int): DataFrame =
    withZval(df)
      .repartitionByRange(nFiles, col("zval"))
      .sortWithinPartitions("zval")

  /** Schema-preserving Z-cluster plan over two arbitrary non-negative
    * integer dimension columns: bucket both mod 256, interleave, ONE
    * range shuffle over (leadingKeys…, zval) plus the in-partition
    * sort, then project the scratch columns away. `leadingKeys` puts a
    * table's partition column first in the range key so each task
    * writes into few partition directories (files stay clustered
    * per-partition). Used by the fact-table maintenance rewrite
    * (OutputWriter.compactFactTable). */
  private[graft] def zClusterPlan(df: DataFrame, xCol: String, yCol: String,
      nFiles: Int, leadingKeys: Seq[String] = Nil): DataFrame = {
    val z = df
      .withColumn("__zx", pmod(col(xCol).cast("long"), lit(256L)))
      .withColumn("__zy", pmod(col(yCol).cast("long"), lit(256L)))
      .withColumn("__zval", expr(zExpr("__zx", "__zy", "div")))
    val keys = leadingKeys.map(col) :+ col("__zval")
    z.repartitionByRange(nFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop("__zx", "__zy", "__zval")
  }

  /** File count for a target size from the data-file sizes of the
    * table at `path` ([[Tables.meta]]'s listing; no data read). */
  private[graft] def targetFileCount(spark: SparkSession, path: String,
      targetBytes: Long): Int = {
    val total = Tables.meta(spark, path).map(_.files.map(_.getLen).sum).getOrElse(0L)
    math.max(1, math.ceil(total.toDouble / targetBytes.max(1L)).toInt)
  }

  /** Physical compaction: write `df` as `nFiles` Z-clustered files;
    * returns the written schema. */
  private[graft] def compactFiles(df: DataFrame, outPath: String, nFiles: Int): StructType = {
    val out = compactPlan(df, nFiles)
      .select("event_id", "ts", "user_id", "event_type", "value", "props", "zval")
    out.write.mode("overwrite").parquet(outPath)
    out.schema
  }

  def compact(spark: SparkSession, dir: String): DataFrame = {
    // per-call scratch: a fixed shared path races concurrent runs on
    // one host (e.g. Verify and Bench) between the write and the
    // read-back, and leaks files; the stats frame is tiny (one row per
    // file bucket), so materialize it eagerly and delete the scratch
    // before returning
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_layout_compact_").toFile
    try {
      val written = compactFiles(Tables.loadEvents(spark, dir), scratch.getPath,
        zFileBuckets.toInt)
      // verification frame from the READ-BACK files — sec re-derived the
      // same way loadEvents derives it, zval re-interleaved from scratch
      val stats = withZval(spark.read.schema(written).parquet(scratch.getPath)
          .withColumn("sec", expr("(ts - pmod(ts, 1000000000)) div 1000000000"))
          .drop("zval"))
        .withColumn("file_bucket", expr(s"zval div $zBucketWidth"))
        .groupBy("file_bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("sum_event_id"),
          sum(col("user_id")).as("sum_user_id"),
          sum(col("sec")).as("sum_sec"),
          min(col("zval")).as("min_zval"),
          max(col("zval")).as("max_zval"))
        .orderBy("file_bucket")
      val spark2 = stats.sparkSession
      import scala.jdk.CollectionConverters._
      spark2.createDataFrame(stats.collect().toSeq.asJava, stats.schema)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(scratch)
    }
  }

  val compactSql: String = {
    val sec = "CAST(floor(epoch(ts)) AS BIGINT)"
    s"""WITH b AS (SELECT event_id, user_id, $sec AS sec,
       |  ((user_id % 256) + 256) % 256 AS zx,
       |  ((($sec // 3600) % 256) + 256) % 256 AS zy
       |  FROM events),
       |z AS (SELECT event_id, user_id, sec,
       |  ${zExpr("zx", "zy", "//")} AS zval FROM b)
       |SELECT zval // $zBucketWidth AS file_bucket,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
       |  CAST(sum(user_id) AS BIGINT) AS sum_user_id,
       |  CAST(sum(sec) AS BIGINT) AS sum_sec,
       |  min(zval) AS min_zval, max(zval) AS max_zval
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_zorder" -> (zorder _),
    "layout_compact" -> (compact _))

  val oracles: Map[String, String] = Map(
    "layout_zorder" -> zorderSql,
    "layout_compact" -> compactSql)
}
