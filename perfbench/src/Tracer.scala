package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder plus the listener pair that feeds it.
  *
  * The benchmark opens pass / query / build / exec (or pipeline step)
  * spans around its calls into the engine and tags every Spark job with
  * the enclosing span through the [[Tracer.SpanProp]] local property.
  * The `SparkListener` turns jobs and stages into child spans and sums
  * task metrics; the `QueryExecutionListener` records Catalyst planning
  * time and the shuffle exchanges of each executed plan. All spans share
  * one run id and are written out by run.py at the end of the run.
  */
final class Tracer(val runId: String) {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val openSpans = new java.util.concurrent.ConcurrentHashMap[Long, Span]()

  def open(kind: String, name: String, layer: String, parent: Option[Long]): Long = {
    val id = nextId.getAndIncrement()
    openSpans.put(id, Span(id, parent.getOrElse(0L), kind, name, layer, nowUs(), 0L))
    id
  }

  def close(id: Long): Unit = {
    val s = openSpans.remove(id)
    if (s != null) spans.add(s.copy(endUs = nowUs()))
  }

  private def add(parent: Long, kind: String, name: String, layer: String,
      startMs: Long, endMs: Long): Long = {
    val id = nextId.getAndIncrement()
    spans.add(Span(id, parent, kind, name, layer, startMs * 1000, endMs * 1000))
    id
  }

  // --- listener state (written on the listener-bus thread) ---
  private val jobParent = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[(Long, Long)]]
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var peakExecMem = 0L
  private var drainExecution = -1L
  @volatile private var drained = false

  private def bump(k: String, v: Double): Unit = counters(k) = counters(k) + v

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
      if (props.exists(p => p.getProperty(DrainProp) != null))
        drainExecution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-2L)
      else {
        jobParent(e.jobId) = parent.getOrElse(0L)
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
        bump("jobs", 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobParent.remove(e.jobId).foreach { parent =>
        jobSpan(e.jobId) = add(parent, "job", s"job${e.jobId}", "spark",
          jobStart(e.jobId), e.time)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (stageJob.contains(e.stageId)) {
        val info = e.taskInfo
        bump("tasks", 1)
        if (info.failed || info.killed) bump("failed_tasks", 1)
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty[(Long, Long)]) += ((info.duration, info.launchTime))
        val m = e.taskMetrics
        if (m != null) peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).foreach { job =>
        bump("stages", 1)
        val start = si.submissionTime.getOrElse(0L)
        val end = si.completionTime.getOrElse(start)
        val m = si.taskMetrics
        val tasks = stageTasks.remove((si.stageId, si.attemptNumber()))
          .getOrElse(mutable.ArrayBuffer.empty[(Long, Long)])
        val durs = tasks.map(_._1).sorted
        // time each task waited for a core after its stage was submitted
        bump("task_queue_s", tasks.map(t => math.max(0L, t._2 - start)).sum / 1e3)
        if (durs.size >= 2) {
          val med = durs(durs.size / 2).max(1L)
          bump("straggler_sum", durs.last.toDouble / med)
          bump("straggler_stages", 1)
        }
        if (m != null) {
          bump("executor_cpu_s", m.executorCpuTime / 1e9)
          bump("gc_s", m.jvmGCTime / 1e3)
          bump("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          bump("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          bump("spill_mem_bytes", m.memoryBytesSpilled.toDouble)
          bump("spill_disk_bytes", m.diskBytesSpilled.toDouble)
          bump("input_bytes", m.inputMetrics.bytesRead.toDouble)
          bump("input_rows", m.inputMetrics.recordsRead.toDouble)
          val wallS = (end - start) / 1e3
          if (m.inputMetrics.bytesRead > 0) bump("scan_stage_s", wallS)
          if (m.outputMetrics.bytesWritten > 0) bump("write_stage_s", wallS)
        }
        add(jobSpan.getOrElse(job, 0L), "stage", s"stage${si.stageId}", "spark", start, end)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        Tracer.this.synchronized { if (end.executionId == drainExecution) drained = true }
      case _ =>
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      if (!qe.logical.toString.contains(DrainMarker)) {
        val phases = qe.tracker.phases
        val planMs = Seq("optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum
        bump("plan_s", planMs / 1e3)
        bump("exchanges", exchanges(qe.executedPlan).toDouble)
      }
    }
  }

  /** Deregister, after every event posted so far has been delivered:
    * the drain job's SQL-execution end is queued behind them. */
  def finish(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(DrainProp, "1")
    spark.range(1).selectExpr(s"'$DrainMarker' AS m").write.format("noop")
      .mode("overwrite").save()
    sc.setLocalProperty(DrainProp, null)
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
    spark.listenerManager.unregister(queryListener)
    sc.removeSparkListener(sparkListener)
  }

  def report(): Map[String, Any] = synchronized {
    Map(
      "run_id" -> runId,
      "drained" -> drained,
      "counters" -> counters.toMap,
      "peak_exec_mem_bytes" -> peakExecMem,
      "spans" -> spans.asScala.toSeq.sortBy(_.id).map(s => Map(
        "run" -> runId, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs,
        "end_us" -> s.endUs)))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val DrainProp = "perfbench.drain"
  private val DrainMarker = "__perfbench_drain__"

  final case class Span(id: Long, parent: Long, kind: String, name: String,
      layer: String, startUs: Long, endUs: Long)

  private def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Shuffle exchanges in an executed plan, looking through adaptive
    * query stages and subqueries. */
  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case p =>
      (if (p.isInstanceOf[ShuffleExchangeLike]) 1 else 0) +
        (p.children ++ p.subqueries).map(exchanges).sum
  }

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(java.util.UUID.randomUUID().toString)
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.listenerManager.register(t.queryListener)
    t
  }
}
