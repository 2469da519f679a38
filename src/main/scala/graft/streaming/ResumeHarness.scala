package graft.streaming

import graft.operators.Dedup

/** One phase of the CROSS-JVM streaming-resume check (RUNBOOK.md's
  * "persistent catalog" deployment note, previously documented but
  * never exercised): build a SparkSession against a shared
  * derby-backed Hive metastore + warehouse, run one
  * [[DocDedupStream]] AvailableNow drain with a shared checkpoint,
  * and print one JSON line of evidence. `HiveResumeSpec` launches
  * this main in TWO SEPARATE JVM PROCESSES — a drop-folder file lands
  * between them — and asserts from the printed lines that the second
  * process resumed (processed only the new file), appended no
  * duplicates, and converged to the batch probe.
  *
  * The resume chain under test crosses processes through two durable
  * pieces: the stream checkpoint (file-source log) and the HIVE
  * METASTORE (the managed sink table — under the default in-memory
  * catalog a fresh JVM never sees it and DocDedupStream deliberately
  * starts fresh). The at-rest band index is not one of them: its
  * build stamp is per JVM (`Bucketing.ensureBuilt`), so JVM 2 rebuilds
  * it from the unchanged corpus.
  *
  * Usage: `ResumeHarness <corpusDir> <dropDir> <ckptDir>
  * <warehouseDir> <metastoreDbDir> <phase>` — phase is a label for
  * the output line; the logic is phase-agnostic (that is the point:
  * production reruns one identical cadence command).
  */
object ResumeHarness {

  private val sinkName = "graft_resume_probe"

  def main(args: Array[String]): Unit = {
    val Array(corpusDir, dropDir, ckptDir, warehouse, metastoreDb, phase) = args
    val spark = graft.GraftSession(s"graft-resume-$phase",
      "spark.sql.warehouse.dir" -> warehouse,
      // embedded Derby, shared BY PATH across the two processes (they
      // run sequentially; Derby's single-boot lock is why they must
      // not overlap — same as any single-metastore deployment without
      // a metastore service)
      "javax.jdo.option.ConnectionURL" ->
        s"jdbc:derby:;databaseName=$metastoreDb;create=true",
      "spark.sql.catalogImplementation" -> "hive")

    val q = DocDedupStream.run(spark, corpusDir, dropDir, sinkName,
      maxFilesPerTrigger = Some(1), checkpointDir = Some(ckptDir))
    q.awaitTermination()
    // rows this DRAIN ingested (resume evidence: a resumed run's input
    // is only the files the checkpoint had not committed)
    val inputRows = q.recentProgress.map(_.numInputRows).sum

    val tbl = spark.table(s"${sinkName}_tbl")
      .select("doc_new", "doc_idx", "jaccard")
    val total = tbl.count()
    val distinct = tbl.distinct().count()
    // convergence oracle: the BATCH probe of everything currently in
    // the drop folder against the same at-rest index (shared plan —
    // Dedup.probe — so stream/batch drift is impossible by
    // construction; what this checks is the exactly-once bookkeeping)
    val want = Dedup.probe(
      Dedup.signatures(spark.read.schema(DocDedupStream.docsSchema).parquet(dropDir)),
      spark.table(Dedup.bandIdxTable), spark.table(Dedup.idxDocsTable))
    val missing = want.exceptAll(tbl).count()
    val extra = tbl.exceptAll(want).count()

    println(
      s"""{"phase":"$phase","input_rows":$inputRows,"rows":$total,""" +
        s""""dup_rows":${total - distinct},"missing_vs_batch":$missing,""" +
        s""""extra_vs_batch":$extra}""")
    spark.stop()
  }
}
