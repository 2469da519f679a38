package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-query memory diagnostics for the scale tiers: runs named catalog
  * queries (noop sink, same materialization contract as graft.Bench)
  * with a task-metrics listener and prints one JSON line per query —
  * wall seconds, sort/agg spill (memory + disk), shuffle bytes
  * read/written, and the max per-task peak execution memory.
  *
  * This is the evidence for the superlinear-on-fixed-cores adjudications
  * in bench_reports/sf10_r{N}.json: a 6-8x ratio for 10x rows either
  * shows spill here (fixable: partition count, pre-projection) or shows
  * none (inherent: per-core work grew past the cache working set).
  *
  * Usage: java -cp ... graft.SpillAudit <sfDir> <query> [<query> ...]
  */
object SpillAudit {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SpillAudit <sfDir> <query> [<query> ...]")
    val sfDir = args.head
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: $unknown")
    // graft.Bench's exact session (no AQE initial-partition override —
    // measured and rejected, see bench_reports/spill_audit_r18.json)
    val spark = GraftSession("graft-spillaudit")
    spark.sparkContext.setLogLevel("ERROR")

    val memSpilled = new AtomicLong
    val diskSpilled = new AtomicLong
    val shufWrite = new AtomicLong
    val shufRead = new AtomicLong
    val peakMem = new AtomicLong
    val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled): Unit
          diskSpilled.addAndGet(m.diskBytesSpilled): Unit
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead): Unit
          peakMem.updateAndGet(p => math.max(p, m.peakExecutionMemory)): Unit
          tasks.incrementAndGet(): Unit
        }
      }
    })

    def mb(l: Long): Double = math.rint(l / 1e4) / 100.0
    names.foreach { name =>
      Seq(memSpilled, diskSpilled, shufWrite, shufRead, peakMem, tasks)
        .foreach(_.set(0))
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // listener events drain asynchronously, and a heavy query can
      // back the bus up past any fixed wait (undercounting spill would
      // bias the audit toward "inherent, no spill") — poll until the
      // task counter holds still across consecutive checks instead
      var prevTasks = -1L
      var stable = 0
      var waitedMs = 0
      while (stable < 4 && waitedMs < 30000) {
        Thread.sleep(250)
        waitedMs += 250
        val t = tasks.get
        if (t == prevTasks) stable += 1 else { stable = 0; prevTasks = t }
      }
      println(f"""{"query": "$name", "sec": $sec%.2f, """ +
        s""""spill_mem_mb": ${mb(memSpilled.get)}, """ +
        s""""spill_disk_mb": ${mb(diskSpilled.get)}, """ +
        s""""shuffle_write_mb": ${mb(shufWrite.get)}, """ +
        s""""shuffle_read_mb": ${mb(shufRead.get)}, """ +
        s""""peak_task_mem_mb": ${mb(peakMem.get)}, """ +
        s""""tasks": ${tasks.get}}""")
    }
    spark.stop()
  }
}
