package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Materialized
import graft.operators.Dedup

/** Streaming near-dup detection against the AT-REST band index — the
  * steady-state shape of 100 TB corpus dedup: documents arrive
  * continuously (a crawl drop folder), each micro-batch computes its
  * minhash band keys in flight and probes the bucketed index tables
  * that [[graft.operators.Dedup.ensureIndexed]] maintains, appending
  * the verified pairs. The index is NEVER recomputed or reshuffled by
  * the stream (the dedup_incremental_bucketed property, now on a
  * stream), and no stream state accumulates: each arriving document
  * is probed once, so there is nothing to watermark away.
  *
  * The probe itself (candidate distinct + two verification joins) is
  * not expressible as a single append-mode streaming plan — streaming
  * `distinct` without event time would grow unbounded state for a
  * dedup that is structurally per-batch. `foreachBatch` is the
  * correct Spark idiom here: each micro-batch runs the SAME batch
  * probe plan (`Dedup.probe` over the at-rest tables — shared code,
  * so stream and batch semantics cannot drift) and appends its
  * verified pairs to the sink table. A doc pair can repeat across
  * micro-batches only if the same doc_id re-arrives, which the
  * drop-folder contract excludes (same as the daily-batch contract).
  */
object DocDedupStream {

  private[graft] val docsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Start the probe stream: `batchDir` is the arriving-docs folder
    * (parquet files, documents schema), `corpusDir` the at-rest corpus
    * whose index is ensured before the stream starts. Results
    * accumulate in managed table `<queryName>_tbl`, with `queryName`
    * registered as a temp view over it.
    *
    * Restart contract: without `checkpointDir` each run() is a fresh
    * one-shot — the sink table is dropped and every file in the drop
    * folder reprocessed (the spec/bench shape). WITH `checkpointDir`,
    * the sink table and the checkpoint advance as a UNIT: a rerun
    * resumes (the file-source log replays only files not yet
    * committed, the existing sink is kept) iff the checkpoint has
    * committed offsets AND the sink table exists; any other pairing —
    * a fresh checkpoint over a stale table (would re-append committed
    * files' pairs) or a used checkpoint over a dropped table (would
    * silently skip them) — starts fresh, clearing BOTH. So
    * stop/restart (or a periodic AvailableNow cron over a growing
    * folder) appends each arriving file's pairs exactly once.
    *
    * The per-batch write is IDEMPOTENT on Spark's replay contract: the
    * sink table is partitioned by the foreachBatch batchId and each
    * micro-batch dynamically overwrites exactly its own partition, so
    * a crash between a successful table write and the stream's commit
    * log (Spark then re-runs that batchId on restart) rewrites the
    * same partition instead of appending its pairs twice. The resume
    * gate above handles whole-half mismatches; the batch_id partition
    * handles the half-committed batch inside a resume.
    *
    * Catalog scope: the sink is a MANAGED table, so the resume path
    * requires a catalog that survives the restart (a Hive metastore in
    * production). Under the default in-memory catalog a fresh JVM
    * never sees the table, so a cross-JVM rerun starts fresh —
    * correct (both halves are cleared, no duplicates) but it
    * reprocesses the whole folder; see RUNBOOK.md. */
  def run(spark: SparkSession, corpusDir: String, batchDir: String,
      queryName: String, maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None): StreamingQuery = {
    Dedup.ensureIndexed(spark, corpusDir)
    val tbl = s"${queryName}_tbl"
    val hconf = spark.sparkContext.hadoopConfiguration
    val ckptUsed = checkpointDir.exists { d =>
      val p = new org.apache.hadoop.fs.Path(d, "offsets")
      val fs = p.getFileSystem(hconf)
      fs.exists(p) && fs.listStatus(p).nonEmpty
    }
    // resume also requires the sink to carry the batch_id partition
    // layout: a table written by a pre-partitioning binary would make
    // every replayed insertInto fail on column count — better to start
    // fresh (both halves cleared) than crash-loop on restart
    val resume = ckptUsed && spark.catalog.tableExists(tbl) &&
      spark.table(tbl).columns.contains("batch_id")
    if (!resume) {
      graft.sources.Bucketing.dropManaged(spark, tbl)
      checkpointDir.foreach { d => // fresh start clears the other half
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(hconf)
        if (fs.exists(p)) fs.delete(p, true): Unit
      }
      // schema-only seed so the view resolves before the first batch;
      // partitioned by batch_id so each micro-batch owns one partition
      // it can idempotently overwrite on replay
      Dedup.probe(
          Dedup.signatures(spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), docsSchema)),
          spark.table(Dedup.bandIdxTable), spark.table(Dedup.idxDocsTable))
        .limit(0).withColumn("batch_id", lit(-1L))
        .write.partitionBy("batch_id").saveAsTable(tbl)
    }
    // the view hides the bookkeeping partition column — consumers see
    // the probe's own schema
    spark.sql(s"CREATE OR REPLACE TEMP VIEW `$queryName` AS " +
      s"SELECT doc_new, doc_idx, jaccard FROM `$tbl`")

    val reader = spark.readStream.schema(docsSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val writer = reader.parquet(batchDir)
      .writeStream
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // shared by band generation and the verification join;
        // released per micro-batch — a continuous stream must not
        // accrete one cache entry per trigger
        val prepared = Materialized(Dedup.signatures(batch))
        // dynamic overwrite of THIS batch's partition only: a replayed
        // batchId (crash after write, before the stream's commit log)
        // rewrites its own partition instead of double-appending. The
        // SESSION conf is required — the per-write
        // option("partitionOverwriteMode") is not consulted on the
        // insertInto path (measured: it silently degrades to a STATIC
        // overwrite that wipes every other batch's partition). Set on
        // the micro-batch's cloned session and restored after.
        val bs = batch.sparkSession
        val pom = "spark.sql.sources.partitionOverwriteMode"
        val prev = bs.conf.get(pom, "static")
        bs.conf.set(pom, "dynamic")
        try Dedup.probe(prepared, bs.table(Dedup.bandIdxTable), bs.table(Dedup.idxDocsTable))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").insertInto(tbl)
        finally {
          bs.conf.set(pom, prev)
          prepared.unpersist(blocking = false): Unit
        }
        // the write runs on the micro-batch's CLONED session; the
        // outer session's relation cache still holds the pre-stream
        // file listing — refresh so readers of the view see the rows
        spark.catalog.refreshTable(tbl)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
