package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.app.RetailEtlApp
import graft.functions.GraftFunctions
import graft.operators._
import graft.pipeline.{LogNotifier, Readiness, RunConfig}
import graft.sources.OutputWriter

/** One benchmark JVM. Times the engine's public entry points from the
  * outside and writes a JSON result file that `perfbench/run.py` turns
  * into metrics.
  *
  * Modes (first argument):
  *  - `warm <sfDir> <entries,...> <seconds> <minPasses> <trace> <checkDir> <result>`:
  *    one long-lived session; a warm-up pass that writes every entry's
  *    output to `<checkDir>` for the oracle check, then whole timed
  *    passes (build + `noop`-sink write) until `seconds` have elapsed
  *    and at least `minPasses` have run. The JIT is still compiling the
  *    engine's generated code for several passes after the warm-up, so
  *    a fixed pass count keeps runs comparable.
  *    With `trace` = 1 the first half of the passes runs untraced, the
  *    second half with [[Tracer]] registered, one more untraced pass
  *    follows (the tracing overhead compares the traced passes with
  *    untraced ones on both sides), and then the `functions` kernels
  *    are timed.
  *  - `daily <inDir> <date> <outDir> <trace> <kernelSfDir|-> <result>`:
  *    one `RetailEtlApp` faithful run in this fresh JVM. Untraced it is
  *    one `RetailEtlApp.run` call; traced it is the same three steps
  *    (readiness gate, `RetailEtlApp.build`, `OutputWriter.writeFact`)
  *    called one by one under [[Tracer]].
  *
  * Timestamps are epoch seconds so run.py can measure set-up from the
  * moment it launched the JVM.
  */
object PerfDriver {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def now(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def processCpuS(): Double = cpuBean.getProcessCpuTime / 1e9

  private def jitS(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val line = try src.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    finally src.close()
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Catalog entry -> module name (the operator object that defines it). */
  private val moduleOf: Map[String, String] = Seq(
    "relational" -> Relational.queries, "retail" -> RetailPipeline.queries,
    "events" -> Events.queries, "events" -> AsofJoin.queries,
    "layout" -> Layout.queries, "dedup" -> Dedup.queries,
    "similarity" -> Similarity.queries, "text" -> TextAnalysis.queries,
    "curation" -> Curation.queries, "curation" -> Ranking.queries,
    "curation" -> Sampling.queries, "multimodal" -> Multimodal.queries,
    "multimodal" -> MediaContainers.queries,
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** Entries whose first call builds at-rest state (bucketed tables or
    * the served ivfpq index) under the run's warehouse / index root. */
  private def buildsAtRest(name: String): Boolean =
    name.contains("bucketed") || name == "sim_ann_ivfpq_served"

  def session(): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val result = args(0) match {
      case "warm"  => warm(args(1), args(2).split(",").toSeq, args(3).toDouble,
                        args(4).toInt, args(5) == "1", args(6))
      case "daily" => daily(args(1), LocalDate.parse(args(2)), args(3),
                        args(4) == "1", args(5))
      case other   => throw new IllegalArgumentException(s"unknown mode $other")
    }
    Files.write(Paths.get(args.last), json.writeValueAsBytes(result))
  }

  private final case class OpTiming(pass: Int, name: String, module: String,
      traced: Boolean, buildS: Double, execS: Double, ok: Boolean, err: String)

  private def warm(sfDir: String, entries: Seq[String], seconds: Double,
      minPasses: Int, trace: Boolean, checkDir: String): Map[String, Any] = {
    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = secs(t0)
    val catalog = SparkEntry.queries
    val sc = spark.sparkContext

    // Warm-up: every entry once at the target data, output written for
    // the oracle check. First calls also build the at-rest state
    // (bucketed tables, served ivfpq index) the timed passes then serve.
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    var indexBuildS = 0.0
    val tw = System.nanoTime()
    entries.foreach { name =>
      val ts = System.nanoTime()
      val err = try {
        catalog(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$name")
        ""
      } catch { case NonFatal(e) => e.toString.take(300) }
      spark.catalog.clearCache()
      if (buildsAtRest(name)) indexBuildS += secs(ts)
      checks += Map("name" -> name, "ok" -> err.isEmpty, "err" -> err, "s" -> secs(ts))
    }
    val warmupS = secs(tw)
    Files.write(Paths.get(s"$checkDir/oracle_sql.json"), json.writeValueAsBytes(
      SparkEntry.oracleSql.filter { case (k, _) => entries.contains(k) }))
    val firstOpEpoch = now()

    val ops = mutable.ArrayBuffer.empty[OpTiming]
    val columns = mutable.Map.empty[String, Seq[String]]
    val passWall = mutable.ArrayBuffer.empty[Map[String, Any]]
    var pass = 0
    def runPass(traced: Boolean, tracer: Option[Tracer]): Unit = {
      def close(span: Option[Long]): Unit = for (t <- tracer; id <- span) t.close(id)
      val passSpan = tracer.map(_.open("pass", s"pass$pass", "bench", None))
      val (cpu0, jit0, gc0) = (processCpuS(), jitS(), gcS())
      val tp = System.nanoTime()
      entries.foreach { name =>
        val qSpan = tracer.map(_.open("query", name, moduleOf.getOrElse(name, "?"), passSpan))
        val tb = System.nanoTime()
        var buildS = 0.0
        val err = try {
          val bSpan = tracer.map(_.open("build", name, "operators", qSpan))
          bSpan.foreach(id => sc.setLocalProperty(Tracer.SpanProp, id.toString))
          val df = catalog(name)(spark, sfDir)
          buildS = secs(tb)
          columns.getOrElseUpdate(name, df.columns.toSeq)
          close(bSpan)
          val eSpan = tracer.map(_.open("exec", name, "spark", qSpan))
          eSpan.foreach(id => sc.setLocalProperty(Tracer.SpanProp, id.toString))
          df.write.format("noop").mode("overwrite").save()
          close(eSpan)
          ""
        } catch { case NonFatal(e) => e.toString.take(300) }
        val totalS = secs(tb)
        sc.setLocalProperty(Tracer.SpanProp, null)
        close(qSpan)
        // cache teardown stays outside the timed window
        spark.catalog.clearCache()
        ops += OpTiming(pass, name, moduleOf.getOrElse(name, "?"), traced,
          buildS, totalS - buildS, err.isEmpty, err)
      }
      passWall += Map("traced" -> traced, "wall_s" -> secs(tp),
        "cpu_s" -> (processCpuS() - cpu0), "jit_s" -> (jitS() - jit0), "gc_s" -> (gcS() - gc0))
      close(passSpan)
      pass += 1
    }

    val window = System.nanoTime()
    def more(until: Double, passes: Int): Boolean = secs(window) < until || pass < passes
    // a traced run splits the window: untraced passes, then traced ones
    val half = if (trace) (minPasses + 1) / 2 else minPasses
    do runPass(traced = false, None) while (more(if (trace) seconds / 2 else seconds, half))
    val traceOut = if (!trace) Map.empty[String, Any] else {
      val tracer = Tracer.install(spark)
      do runPass(traced = true, Some(tracer)) while (more(seconds, minPasses))
      tracer.finish(spark)
      runPass(traced = false, None)
      tracer.report()
    }
    val kernels = if (trace) Kernels.run(spark, sfDir) else Map.empty[String, Any]
    val rss = peakRssMb()
    spark.stop()
    Map(
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmupS,
        "index_build_s" -> indexBuildS, "first_op_epoch" -> firstOpEpoch),
      "ops" -> ops.map(o => Map("pass" -> o.pass, "name" -> o.name,
        "module" -> o.module, "traced" -> o.traced, "build_s" -> o.buildS,
        "exec_s" -> o.execS, "ok" -> o.ok, "err" -> o.err)).toSeq,
      "passes" -> passWall.toSeq,
      "checks" -> checks.toSeq,
      "columns" -> columns.toMap,
      "peak_rss_mb" -> rss,
      "trace" -> traceOut,
      "kernels" -> kernels)
  }

  private def daily(inDir: String, date: LocalDate, outDir: String,
      trace: Boolean, kernelSfDir: String): Map[String, Any] = {
    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = secs(t0)
    val firstOpEpoch = now()
    val (cpu0, jit0, gc0) = (processCpuS(), jitS(), gcS())
    val tp = System.nanoTime()
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var traceOut = Map.empty[String, Any]
    val exit =
      if (!trace) RetailEtlApp.run(Seq("--date", date.toString, "--out", outDir,
        "--mode", "faithful", "--in-dir", inDir), LogNotifier)
      else {
        val tracer = Tracer.install(spark)
        val passSpan = tracer.open("pass", "pass0", "bench", None)
        def step[T](name: String, layer: String)(f: => T): T = {
          val id = tracer.open("step", name, layer, Some(passSpan))
          spark.sparkContext.setLocalProperty(Tracer.SpanProp, id.toString)
          val ts = System.nanoTime()
          try f finally {
            phases(name) = secs(ts)
            spark.sparkContext.setLocalProperty(Tracer.SpanProp, null)
            tracer.close(id)
          }
        }
        val code = step("readiness", "pipeline")(
          Readiness.checkFs(inDir, date, spark.sparkContext.hadoopConfiguration)) match {
          case Left(missing) => LogNotifier.notifyMissing(date, missing); 2
          case Right(paths) =>
            val conf = RunConfig(date, paths, outDir)
            val fact = step("build", "app")(RetailEtlApp.build(spark, conf))
            step("write", "sources")(OutputWriter.writeFact(fact, conf.out, date.toString))
            0
        }
        tracer.close(passSpan)
        tracer.finish(spark)
        traceOut = tracer.report()
        code
      }
    val passS = secs(tp)
    val cpuS = processCpuS() - cpu0
    val (jitPass, gcPass) = (jitS() - jit0, gcS() - gc0)
    val kernels =
      if (trace && kernelSfDir != "-") Kernels.run(spark, kernelSfDir)
      else Map.empty[String, Any]
    val rss = peakRssMb()
    spark.stop()
    Map(
      "setup" -> Map("session_s" -> sessionS, "first_op_epoch" -> firstOpEpoch),
      "exit" -> exit,
      "pass_s" -> passS,
      "cpu_s" -> cpuS,
      "jit_s" -> jitPass,
      "gc_s" -> gcPass,
      "phases" -> phases.toMap,
      "oracle_sql" -> SparkEntry.oracleSql("retail_weekly_faithful"),
      "peak_rss_mb" -> rss,
      "trace" -> traceOut,
      "kernels" -> kernels)
  }
}

/** `functions` layer: ns/row of every kernel in `GraftFunctions.all`,
  * called through `selectExpr` over the workload's own documents and
  * embeddings, net of the same cached scan without the kernel. */
object Kernels {

  val exprs: Seq[(String, String)] = Seq(
    "vec_dot" -> "vec_dot(emb, emb2)",
    "vec_norm" -> "vec_norm(emb)",
    "simhash60" -> "simhash60(tok_h)",
    "shingles3" -> "shingles3(toks)",
    "shingles3_h64" -> "shingles3_h64(toks)",
    "inter_count_sorted" -> "inter_count_sorted(sh, sh2)",
    "minhash_sig64" -> "minhash_sig64(sh)",
    "vec_sig128" -> "vec_sig128(emb)",
    "vec_sig" -> "vec_sig(emb, 256)",
    "tok_stats" -> "tok_stats(text, array())",
    "tok_counts" -> "tok_counts(toks)",
    "lev_banded" -> "lev_banded(text, text2, 8)")

  private val TargetRows = 40000L
  private val Reps = 3

  def run(spark: SparkSession, sfDir: String): Map[String, Any] = {
    GraftFunctions.register(spark)
    require(exprs.map(_._1).toSet == GraftFunctions.all.map(_._1).toSet,
      "kernel list out of step with GraftFunctions.all")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("row_number() OVER (ORDER BY doc_id) - 1 AS i", "text")
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("row_number() OVER (ORDER BY vec_id) - 1 AS j", "embedding AS emb")
    val nDocs = docs.count()
    val nVecs = vecs.count()
    val copies = math.max(1L, TargetRows / nDocs)
    docs.createOrReplaceTempView("k_docs")
    vecs.createOrReplaceTempView("k_vecs")
    val input = spark.sql(
      s"""SELECT d.text, n.text AS text2, split(d.text, ' ') AS toks,
         |  transform(split(d.text, ' '), w -> xxhash64(w)) AS tok_h,
         |  sort_array(shingles3_h64(split(d.text, ' '))) AS sh,
         |  sort_array(shingles3_h64(split(n.text, ' '))) AS sh2,
         |  v.emb, w.emb AS emb2
         |FROM k_docs d
         |JOIN k_docs n ON n.i = (d.i + 1) % $nDocs
         |JOIN k_vecs v ON v.j = d.i % $nVecs
         |JOIN k_vecs w ON w.j = (d.i + 1) % $nVecs
         |CROSS JOIN range($copies)""".stripMargin)
      .repartition(spark.sparkContext.defaultParallelism)
      .cache()
    val rows = input.count()
    def timeNoop(df: DataFrame): Double = {
      val t = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    timeNoop(input.selectExpr("*")) // first scan of the cached frame
    val perKernel = exprs.map { case (name, e) =>
      val withK = input.selectExpr("*", s"$e AS k")
      timeNoop(withK) // codegen + JIT for this projection
      val base = mutable.ArrayBuffer.empty[Double]
      val kern = mutable.ArrayBuffer.empty[Double]
      (1 to Reps).foreach { _ =>
        base += timeNoop(input.selectExpr("*"))
        kern += timeNoop(withK)
      }
      name -> Map("ns_per_row" -> (median(kern.toSeq) - median(base.toSeq)) / rows * 1e9,
        "kernel_s" -> median(kern.toSeq), "scan_s" -> median(base.toSeq))
    }.toMap
    input.unpersist()
    Map("rows" -> rows, "kernels" -> perKernel)
  }
}
