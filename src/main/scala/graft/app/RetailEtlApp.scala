package graft.app

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.RetailPipeline
import graft.pipeline.{FileNotifier, HttpNotifier, LogNotifier, Notifier, Readiness, RunConfig, SmtpNotifier}
import graft.sources.{CsvTableReader, OutputWriter}

/** The end-to-end daily pipeline as one process (reference entry point
  * 1, SURVEY §3.1): readiness gate → explicit-schema CSV scans →
  * weekly-metrics build → date-partitioned parquet, replacing the
  * reference's CloudWatch → Lambda → Airflow → EMR chain (reference:
  * Lambda Function.py, Airflow Dag.py, Data Transformation.py) with a
  * single spark-submit-able main. Same jar runs `local[*]` in tests
  * and `--master yarn`/`k8s` on a cluster — the master is never
  * hardcoded (the reference hardcodes `master("Yarn")`, Data
  * Transformation.py:19, which its own spark-submit then overrides).
  *
  * Usage:
  *   --date YYYY-MM-DD --out PATH [--mode faithful|corrected]
  *   [--single-file] [--compact] [--alert-webhook URL] [--alert-smtp
  *   host:port:from:to] [--alert-dir PATH] and
  *   either --in-dir DIR (readiness-gated, files named
  *   {table}_YYYYMMDD.csv) or five explicit --calendar/--inventory/
  *   --product/--sales/--store paths. `--compact` appends the
  *   Z-cluster small-file maintenance rewrite of the output root
  *   (weekly cron line, not the daily one). Scheduling + alerting
  *   contract: RUNBOOK.md.
  */
object RetailEtlApp {

  def main(args: Array[String]): Unit = {
    val (notifier, rest) = notifierFromArgs(args.toSeq)
    val exit = run(rest, notifier)
    if (exit != 0) sys.exit(exit)
  }

  /** Alert-transport selection (C7, see RUNBOOK.md): `--alert-webhook
    * URL` POSTs the alert JSON (HttpNotifier); `--alert-smtp
    * host:port:from:to` emails it (SmtpNotifier — the SES analog);
    * `--alert-dir PATH` writes durable JSONL (FileNotifier). Multiple
    * flags chain as fallbacks in that order; none → stderr. */
  private[graft] def notifierFromArgs(args: Seq[String]): (Notifier, Seq[String]) = {
    def extract(flag: String, as: Seq[String]): (Option[String], Seq[String]) = {
      val i = as.indexOf(flag)
      // a flag-shaped next token means the value is MISSING, not a URL/
      // path: leave the args untouched so RunConfig.parse rejects the
      // stray flag with exit 1 rather than silently swallowing the
      // following option (`--alert-webhook --alert-dir /x` must fail,
      // not drop the durable transport)
      if (i >= 0 && i + 1 < as.length && !as(i + 1).startsWith("--"))
        (Some(as(i + 1)), as.patch(i, Nil, 2))
      else (None, as)
    }
    val (hook, r1) = extract("--alert-webhook", args)
    val (dir, r2) = extract("--alert-dir", r1)
    // --alert-smtp host:port:from:to (the SES-analog transport). A
    // value that doesn't parse is treated like a missing value — the
    // flag stays in the args and RunConfig.parse fails with exit 1,
    // instead of silently dropping the transport.
    val smtpRe = "([^:]+):(\\d+):([^:]+):([^:]+)".r
    val (smtpRaw, r3a) = extract("--alert-smtp", r2)
    val (smtp, r3) = smtpRaw match {
      case Some(smtpRe(h, p, f, t)) => (Some((h, p.toInt, f, t)), r3a)
      case Some(_)                  => (None, r2) // malformed: leave args intact
      case None                     => (None, r3a)
    }
    // fallback chain: webhook → smtp → durable JSONL → stderr
    val base: Notifier = dir
      .map(d => new FileNotifier(new org.apache.hadoop.conf.Configuration(), d): Notifier)
      .getOrElse(LogNotifier)
    val mail: Notifier = smtp
      .map { case (h, p, f, t) => new SmtpNotifier(h, p, f, t, fallback = base): Notifier }
      .getOrElse(base)
    val chosen: Notifier = hook
      .map(u => new HttpNotifier(java.net.URI.create(u), fallback = mail): Notifier)
      .getOrElse(mail)
    (chosen, r3)
  }

  /** Factored for tests: returns an exit code instead of calling
    * sys.exit. 0 = wrote output; 1 = bad args; 2 = inputs not ready. */
  def run(args: Seq[String], notifier: Notifier): Int = {
    val i = args.indexOf("--in-dir")
    val (inDir, rest) =
      if (i >= 0 && i + 1 < args.length)
        (Some(args(i + 1)), args.patch(i, Nil, 2))
      else (None, args)

    parseWithDir(rest, inDir) match {
      case Left(err) =>
        System.err.println(s"[retail-etl] $err"); 1
      case Right((conf, None)) =>
        execute(conf); 0
      case Right((conf, Some(dir))) =>
        // the readiness walk must see Spark's Hadoop configuration
        // (spark.hadoop.* — s3a credentials etc.), so build the session
        // before gating
        val spark = session(conf)
        Readiness.checkFs(dir, conf.date,
            spark.sparkContext.hadoopConfiguration) match {
          case Left(missing) =>
            notifier.notifyMissing(conf.date, missing); 2
          case Right(paths) =>
            execute(conf.copy(inputs = paths)); 0
        }
    }
  }

  /** Spark-free validation of a complete CLI argument vector: the
    * transport flags extracted, `--in-dir` split off, the remainder
    * through RunConfig.parse. This is the contract probe the deploy
    * artifacts (deploy/airflow, deploy/cron) are tested against in
    * PipelineSpec, so a DAG edit that drifts from the CLI fails the
    * build instead of the 02:17 run. */
  private[graft] def validateArgs(args: Seq[String]): Either[String, RunConfig] = {
    val (_, rest0) = notifierFromArgs(args)
    val i = rest0.indexOf("--in-dir")
    val (inDir, rest) =
      if (i >= 0 && i + 1 < rest0.length) (Some(rest0(i + 1)), rest0.patch(i, Nil, 2))
      else (None, rest0)
    parseWithDir(rest, inDir).map(_._1)
  }

  /** --in-dir replaces the five per-table flags; splice placeholder
    * inputs so RunConfig.parse's completeness check passes, then let
    * the readiness gate fill in the real paths. Mixing --in-dir with an
    * explicit table flag is rejected — last-wins parsing would silently
    * discard the explicit path otherwise. */
  private def parseWithDir(rest: Seq[String], inDir: Option[String])
      : Either[String, (RunConfig, Option[String])] = inDir match {
    case None => RunConfig.parse(rest).map(_ -> None)
    case Some(dir) =>
      val explicit = Readiness.tables.map("--" + _).filter(rest.contains)
      if (explicit.nonEmpty)
        Left(s"--in-dir cannot be combined with ${explicit.toSeq.sorted.mkString(", ")}")
      else {
        val placeholders = Readiness.tables.toSeq.flatMap(t => Seq(s"--$t", "<in-dir>"))
        RunConfig.parse(rest ++ placeholders).map(_ -> Some(dir))
      }
  }

  private def session(conf: RunConfig): SparkSession =
    graft.GraftSession(s"retail-etl-${conf.mode}-${conf.date}")

  private def execute(conf: RunConfig): Unit = {
    val spark = session(conf)
    val out = build(spark, conf)
    OutputWriter.writeFact(out, conf.out, conf.date.toString, conf.singleFile)
    // end-of-run maintenance (opt-in): Z-cluster the whole output root
    // into target-size files. Scheduled weekly in RUNBOOK.md — daily
    // runs skip it, so the flag lives on the cron line, not here.
    if (conf.compact) OutputWriter.compactFactPath(spark, conf.out)
  }

  /** Read the five tables and build the weekly fact; also registers
    * every input and the output as temp views so ad-hoc `spark.sql` is
    * available in-process (the reference needed a Glue crawler +
    * Athena for this — README.md:64-78). */
  def build(spark: SparkSession, conf: RunConfig): DataFrame = {
    val t = CsvTableReader.readAll(spark, conf.inputs)
    t.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    val fact = conf.mode match {
      case "corrected" =>
        RetailPipeline.buildCorrected(t("sales"), t("inventory"), Some(t("calendar")))
      case _ =>
        RetailPipeline.buildFaithful(
          t("sales"), t("inventory"), t("calendar"), t("store"), t("product"))
    }
    fact.createOrReplaceTempView("weekly_store_product_metrics")
    fact
  }

  /** Readiness probe for schedulers (reference C1/C6): exit 0 when all
    * five inputs for `date` exist under `dir`. */
  def ready(dir: String, date: LocalDate): Boolean =
    Readiness.checkFs(dir, date).isRight
}
