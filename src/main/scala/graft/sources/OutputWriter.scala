package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, current_date, lit}

import graft.operators.Layout

/** Sinks (reference operators S3 + S7, SURVEY §2.1).
  *
  * The reference writes its weekly fact with
  * `repartition(1).write.mode("overwrite").option("csv").parquet(
  * "s3://…/date={date_str}")` (reference: Data Transformation.py:181):
  * one task funnels the whole output, the date lives in the path
  * string instead of a partition column, and `.option("csv")` is a
  * malformed no-op. This writer fixes all three.
  *
  * Scale notes: `partitionBy("date")` gives Hive-layout output that
  * downstream SQL prunes statically and dynamically; keeping the
  * write parallel means N shuffle partitions → N files per date
  * (bounded by AQE coalescing). `singleFile=true` reproduces the
  * reference's one-file contract when a consumer genuinely needs it —
  * via `coalesce(1)`, which only narrows the LAST stage instead of
  * inserting the extra exchange `repartition(1)` would.
  */
object OutputWriter {

  /** Parquet fact sink, date-partitioned. `date` is added as a real
    * partition column (yyyy-MM-dd run date). */
  def writeFact(df: DataFrame, outPath: String, date: String,
      singleFile: Boolean = false): Unit = {
    val dated = df.withColumn("date", lit(date))
    val shaped = if (singleFile) dated.coalesce(1) else dated
    shaped.write
      .mode(SaveMode.Overwrite)
      // dynamic: overwrite ONLY the partitions present in this write
      // (this run's date). Static mode — the default — would delete
      // every previously written date under outPath on each daily run.
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date")
      .parquet(outPath)
  }

  /** Catalog-table fact sink: same layout as [[writeFact]] (parquet,
    * date-partitioned, dynamic overwrite) but registered in the
    * session catalog / metastore so the table survives the session and
    * is queryable by name — the Spark-native analog of the reference's
    * Glue-crawler → Athena path (reference: README.md:64-78), minus
    * the crawler: the schema is declared by the write, not re-inferred.
    * With a Hive/metastore-backed catalog this is the cross-session
    * durable catalog entry; with the default in-memory catalog the
    * parquet + partition layout still survives in the warehouse dir. */
  def writeFactTable(df: DataFrame, table: String, date: String): Unit = {
    val spark = df.sparkSession
    val dated = df.withColumn("date", lit(date))
    if (spark.catalog.tableExists(table)) {
      // saveAsTable(Overwrite) would drop ALL dates and recreate;
      // dynamic-overwrite insertInto replaces only this run's date.
      // insertInto resolves columns by POSITION, so align to the
      // table's declared order first (partition column last).
      val cols = spark.table(table).columns
      // the writer OPTION is honored for path writes but not reliably
      // for insertInto — pin the session conf for the duration instead
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try
        dated.select(cols.map(col).toIndexedSeq: _*)
          .write
          .mode(SaveMode.Overwrite)
          .insertInto(table)
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    } else {
      dated.write
        .mode(SaveMode.Overwrite)
        .partitionBy("date")
        .format("parquet")
        .saveAsTable(table)
    }
  }

  /** Maintenance rewrite of a [[writeFactTable]] catalog table: the
    * daily dynamic-overwrite appends leave each date partition with
    * one file per shuffle task, and a year of daily runs is thousands
    * of small files; this rewrites the table's files Z-clustered on
    * (STORE_KEY, PROD_KEY) at a target file size — the same layout
    * operator the events tier ships (`layout_zorder`/`layout_compact`,
    * operators/Layout.scala) applied to the engine's own output, so a
    * store- or product-filtered scan over the fact table prunes files
    * by min/max footer stats and the date partition column keeps its
    * static pruning.
    *
    * Self-overwrite: Spark refuses an insertInto whose plan reads the
    * target table, so the clustered frame is checkpointed first (the
    * rewrite is a maintenance pass — the extra materialization is the
    * cost of an atomic-per-partition in-place rewrite without a second
    * table swap). `nFilesOverride` pins the file count for tests;
    * production sizes it from the bytes at the table's catalog
    * location via [[Layout.targetFileCount]]. */
  def compactFactTable(spark: SparkSession, table: String,
      targetBytes: Long = 128L << 20,
      nFilesOverride: Option[Int] = None): Unit = {
    val location = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location
    zClusterStaged(spark, spark.table(table), new Path(location).toString, targetBytes,
        nFilesOverride) {
      staged =>
        val key = "spark.sql.sources.partitionOverwriteMode"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "dynamic")
        try staged.write.mode(SaveMode.Overwrite).insertInto(table)
        finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
    }
  }

  /** Path twin of [[compactFactTable]] for [[writeFact]] outputs (a
    * date-partitioned parquet root with no catalog entry) — the shape
    * `RetailEtlApp --out` produces. Same one-range-shuffle Z-cluster
    * rewrite; the write-back is a dynamic-partition-overwrite path
    * write instead of an insertInto, so only the partitions the staged
    * frame carries are replaced (all of them here, but a crash between
    * write and commit never takes out dates the rewrite hadn't
    * reached). Wired to the app's `--compact` end-of-run maintenance
    * flag (RUNBOOK.md schedules it weekly, not per-daily-run). */
  def compactFactPath(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20,
      nFilesOverride: Option[Int] = None): Unit =
    zClusterStaged(spark, graft.Tables.read(spark, path), path, targetBytes,
        nFilesOverride) {
      staged =>
        staged.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("date")
          .parquet(path)
    }

  /** The shared half of the two maintenance rewrites: Z-cluster `t`
    * (the table stored at `path`, which sizes the file count) on
    * (STORE_KEY, PROD_KEY) under its date partitions, checkpoint
    * the plan (self-overwrite: Spark refuses a write whose plan reads
    * the target, so the lineage must be severed through a
    * materialization first), and hand the column-aligned result to
    * the caller's write-back. The scratch checkpoint dir is per-call
    * and removed afterwards — UNLESS the session had no checkpoint dir
    * before this call: Spark offers no way to unset one, so deleting
    * the scratch dir would leave the context pointing at a removed
    * path and break a later unrelated `.checkpoint()` in the same
    * session. In that case the (empty-after-use) temp dir is left in
    * place for OS tmp cleanup to reclaim. */
  private def zClusterStaged(spark: SparkSession, t: DataFrame, path: String,
      targetBytes: Long, nFilesOverride: Option[Int])
      (writeBack: DataFrame => Unit): Unit = {
    val cols = t.columns
    val nFiles = nFilesOverride.getOrElse(
      Layout.targetFileCount(spark, path, targetBytes))
    val plan = Layout.zClusterPlan(t, "STORE_KEY", "PROD_KEY", nFiles,
      leadingKeys = Seq("date"))
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft_fact_compact_ckpt_")
    val prevCkpt = Option(spark.sparkContext.getCheckpointDir).flatten
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    try {
      val staged = plan.checkpoint(eager = true)
      writeBack(staged.select(cols.map(col).toIndexedSeq: _*))
    } finally {
      val ckpt = new Path(ckptDir.toUri)
      val fs = ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
      prevCkpt match {
        case Some(dir) =>
          spark.sparkContext.setCheckpointDir(dir)
          fs.delete(ckpt, true): Unit
        case None =>
          // keep the dir valid — the context still points at it (see
          // the Scaladoc); only the per-call checkpoint contents go.
          fs.listStatus(ckpt).foreach(st => fs.delete(st.getPath, true): Unit)
      }
    }
  }

  /** CSV unload (reference S7 — Data Load.sql:4-41 unloads each table
    * as one headered CSV filtered to `dt <= current_date()`). */
  def csvUnload(df: DataFrame, dateCol: String, outPath: String): Unit =
    df.filter(col(dateCol) <= current_date())
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .csv(outPath)
}
