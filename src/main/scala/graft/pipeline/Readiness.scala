package graft.pipeline

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Input-readiness gate + run config (reference operators C2-C4, C7,
  * SURVEY §2.9).
  *
  * The reference runs this as a Lambda: list the S3 bucket, check the
  * five expected `{table}_YYYYMMDD.csv` names are present, then either
  * POST a `{table -> url}` conf to Airflow or send an SES alert
  * (reference: Lambda Function.py:10-47, AWS SES.py:31-51). Here the
  * same gate is a pure function over a listed name set, with the
  * filesystem walk done through the Hadoop `FileSystem` API — so the
  * identical code paths work on file://, hdfs:// and s3a:// URIs.
  */
object Readiness {

  val tables: Set[String] = Set("calendar", "inventory", "product", "sales", "store")
  private val ymd = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** Expected file names for a run date — Lambda Function.py:17. */
  def requiredFiles(date: LocalDate): Set[String] =
    tables.map(t => s"${t}_${date.format(ymd)}.csv")

  private val fileNameRe = "([a-z]+)_(\\d{8})\\.csv".r

  /** Table-name derivation: strip the 13-char `_YYYYMMDD.csv` suffix
    * (reference C3 — Lambda Function.py:23 does `a[:-13]`). Returns
    * None instead of mangling names that don't match the contract. */
  def tableNameOf(fileName: String): Option[String] = fileName match {
    case fileNameRe(table, _) if tables(table) => Some(table)
    case _ => None
  }

  /** Pure gate: given the listed names, either the missing set or the
    * resolved `table -> fileName` inputs. */
  def check(listed: Set[String], date: LocalDate): Either[Set[String], Map[String, String]] = {
    val required = requiredFiles(date)
    val missing = required.diff(listed)
    if (missing.nonEmpty) Left(missing)
    else Right(required.flatMap(f => tableNameOf(f).map(_ -> f)).toMap)
  }

  /** Filesystem-backed gate: list `dir` (non-recursive, like the
    * Lambda's flat-bucket scan) and run [[check]]; resolved values
    * become fully-qualified paths. */
  def checkFs(dir: String, date: LocalDate, conf: Configuration = new Configuration())
      : Either[Set[String], Map[String, String]] = {
    val p = new Path(dir)
    val fs = FileSystem.get(p.toUri, conf)
    val listed =
      if (!fs.exists(p)) Set.empty[String]
      else fs.listStatus(p).map(_.getPath.getName).toSet
    check(listed, date).map(_.map { case (t, f) => t -> new Path(p, f).toString })
  }
}

/** Failure alerting seam (reference C7 — the SES email at AWS
  * SES.py:31-51, triggered from Lambda Function.py:46-47). The engine
  * ships three transports — stderr, durable JSONL, HTTP webhook — all
  * emitting the same JSON payload; anything heavier (SES itself,
  * PagerDuty, Slack) subscribes to the webhook or tails the JSONL. */
trait Notifier {
  def notifyMissing(date: LocalDate, missing: Set[String]): Unit
}

/** Shared alert payload: ONE wire format across every transport, so a
  * consumer can switch transports without re-parsing. `jsonStr` is
  * also the engine's one JSON string escaper (Verify's oracle dump). */
private[graft] object AlertJson {
  /** A JSON string literal: quote, backslash and ALL control chars
    * (< 0x20) escaped — a tab or CR left raw makes a strict parser
    * reject the whole document. */
  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    } + "\""

  def readinessMissing(date: LocalDate, missing: Set[String]): String =
    s"""{"kind":"readiness_missing","date":${jsonStr(date.toString)},"missing":[${
      missing.toSeq.sorted.map(jsonStr).mkString(",")}]}"""
}

object LogNotifier extends Notifier {
  def notifyMissing(date: LocalDate, missing: Set[String]): Unit =
    System.err.println(
      s"[readiness] input files missing for $date: ${missing.toSeq.sorted.mkString(", ")}")
}

/** Webhook transport: POST the alert JSON to a configured endpoint —
  * the out-of-process analog of the reference's SES email (AWS
  * SES.py:31-51) without an SDK dependency (JDK HttpClient only; the
  * receiving side is whatever the deployment points it at: an SES
  * forwarder, Slack incoming webhook, PagerDuty events API).
  *
  * Delivery is BEST-EFFORT BY DESIGN: an alerting outage must degrade
  * the alert, never escalate it into a pipeline failure — a thrown
  * exception here would replace "inputs missing" (actionable) with
  * "monitoring down" (masking the original condition). Non-2xx or
  * transport errors log the failure and fall back to the wrapped
  * notifier, so the alert always lands SOMEWHERE (pair with
  * [[FileNotifier]] for a durable fallback). */
final class HttpNotifier(
    endpoint: java.net.URI,
    timeout: java.time.Duration = java.time.Duration.ofSeconds(5),
    fallback: Notifier = LogNotifier) extends Notifier {

  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(timeout).build()

  def notifyMissing(date: LocalDate, missing: Set[String]): Unit = {
    val body = AlertJson.readinessMissing(date, missing)
    val req = java.net.http.HttpRequest.newBuilder(endpoint)
      .timeout(timeout)
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val delivered =
      try {
        val rsp = client.send(req,
          java.net.http.HttpResponse.BodyHandlers.discarding())
        val ok = rsp.statusCode() >= 200 && rsp.statusCode() < 300
        if (!ok) System.err.println(
          s"[notify] webhook $endpoint returned ${rsp.statusCode()}")
        ok
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[notify] webhook $endpoint failed: $e")
          false
      }
    if (!delivered) fallback.notifyMissing(date, missing)
  }
}

/** SMTP transport — the LITERAL analog of the reference's SES email
  * (AWS SES.py:31-51: subject + body to an ops recipient) as a
  * dependency-free minimal SMTP client over a raw socket (EHLO,
  * MAIL FROM, RCPT TO, DATA, QUIT — RFC 5321's required core). The
  * alert body is the same JSON payload every other transport emits.
  *
  * Scope: PLAINTEXT submission to a relay that accepts it — the
  * localhost MTA / in-VPC relay topology the port-25 path assumes.
  * Authenticated TLS submission is deliberately out: that's a mail
  * library's job, and the webhook → mail-gateway path (RUNBOOK.md)
  * already covers managed providers. Best-effort like every transport
  * here: any SMTP failure logs and falls back, never throws. */
final class SmtpNotifier(
    host: String, port: Int, from: String, to: String,
    timeout: java.time.Duration = java.time.Duration.ofSeconds(5),
    fallback: Notifier = LogNotifier) extends Notifier {

  private def expect(in: java.io.BufferedReader, want: Set[Int]): Unit = {
    var line = in.readLine()
    if (line == null) sys.error("SMTP connection closed")
    // multiline replies: "250-..." continues, "250 ..." terminates
    while (line.length >= 4 && line.charAt(3) == '-') {
      val next = in.readLine()
      if (next == null) sys.error("SMTP connection closed mid-reply")
      line = next
    }
    val code = line.take(3).toInt
    if (!want(code)) sys.error(s"unexpected SMTP reply: $line")
  }

  def notifyMissing(date: LocalDate, missing: Set[String]): Unit = {
    val body = AlertJson.readinessMissing(date, missing)
    val delivered =
      try {
        val sock = new java.net.Socket()
        try {
          sock.connect(new java.net.InetSocketAddress(host, port),
            timeout.toMillis.toInt)
          sock.setSoTimeout(timeout.toMillis.toInt)
          val in = new java.io.BufferedReader(new java.io.InputStreamReader(
            sock.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
          val out = new java.io.OutputStreamWriter(
            sock.getOutputStream, java.nio.charset.StandardCharsets.UTF_8)
          def send(cmd: String, want: Set[Int]): Unit = {
            out.write(cmd + "\r\n"); out.flush(); expect(in, want)
          }
          expect(in, Set(220))
          send("EHLO graft", Set(250))
          send(s"MAIL FROM:<$from>", Set(250))
          send(s"RCPT TO:<$to>", Set(250, 251))
          send("DATA", Set(354))
          val msg = Seq(
            s"From: $from", s"To: $to",
            s"Subject: [retail-etl] inputs missing for $date",
            "MIME-Version: 1.0", "Content-Type: application/json", "",
            body).mkString("\r\n")
          // dot-stuff: a body line starting '.' must not terminate DATA
          out.write(msg.replace("\r\n.", "\r\n..") + "\r\n.\r\n")
          out.flush()
          expect(in, Set(250))
          send("QUIT", Set(221))
          true
        } finally sock.close()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[notify] smtp $host:$port failed: $e")
          false
      }
    if (!delivered) fallback.notifyMissing(date, missing)
  }
}

/** Durable alert channel: writes each alert as its OWN single-line
  * JSONL file under a directory on any Hadoop-visible filesystem
  * (local, HDFS, s3a — the same reach as the readiness scan itself).
  * One-file-per-alert keeps every write atomic-enough on every FS
  * class: no append (object stores lack it) and no read-merge-rewrite
  * of an ever-growing shared file (which loses alerts to a crash
  * mid-rewrite or to two concurrent writers). `spark.read.json(dir)`
  * — or any log shipper tailing the directory — sees the whole feed.
  * A real transport (the SES email of AWS SES.py:31-51, PagerDuty,
  * Slack) subscribes to this path; the engine stays free of SDK
  * dependencies. Alerts survive the JVM, unlike stderr. */
final class FileNotifier(conf: Configuration, dir: String) extends Notifier {

  def notifyMissing(date: LocalDate, missing: Set[String]): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    fs.mkdirs(d)
    val line = AlertJson.readinessMissing(date, missing) + "\n"
    val p = new Path(d, s"alert-$date-${java.util.UUID.randomUUID()}.jsonl")
    // create(overwrite=false): a UUID collision must fail loudly, not
    // clobber another alert
    val out = fs.create(p, false)
    try out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}

/** One coherent run contract (reference C4). The reference's Lambda →
  * Airflow → spark-submit chain disagrees with itself about argument
  * shape (flag args built at Airflow Dag.py:22-26 vs positional
  * sys.argv parsing at Data Transformation.py:10-11, with the calendar
  * value passed under a '--sales' flag); this case class replaces all
  * of it. */
final case class RunConfig(
    date: LocalDate,
    inputs: Map[String, String],
    out: String,
    mode: String = "faithful",
    singleFile: Boolean = false,
    compact: Boolean = false)

object RunConfig {

  /** Parse `--date YYYY-MM-DD --calendar P --inventory P --product P
    * --sales P --store P --out P [--mode faithful|corrected]
    * [--single-file] [--compact]`. Either a config or an error
    * message. `--compact` runs the end-of-run Z-cluster maintenance
    * rewrite of the whole output root
    * (OutputWriter.compactFactPath) — the weekly small-file repair
    * pass, not part of the daily contract. */
  def parse(args: Seq[String]): Either[String, RunConfig] = {
    val flags = Readiness.tables.map("--" + _) ++ Set("--date", "--out", "--mode")
    def loop(rest: List[String], acc: Map[String, String],
        single: Boolean, compact: Boolean)
        : Either[String, (Map[String, String], Boolean, Boolean)] = rest match {
      case Nil => Right((acc, single, compact))
      case "--single-file" :: tl => loop(tl, acc, single = true, compact)
      case "--compact" :: tl     => loop(tl, acc, single, compact = true)
      case f :: v :: tl if flags(f) && !v.startsWith("--") =>
        loop(tl, acc + (f.drop(2) -> v), single, compact)
      case f :: _ => Left(s"unrecognized or valueless argument: $f")
    }
    loop(args.toList, Map.empty, single = false, compact = false)
      .flatMap { case (kv, single, compact) =>
      for {
        date <- kv.get("date").toRight("missing --date")
          .flatMap(d => scala.util.Try(LocalDate.parse(d)).toEither
            .left.map(_ => s"bad --date '$d' (want YYYY-MM-DD)"))
        out <- kv.get("out").toRight("missing --out")
        mode = kv.getOrElse("mode", "faithful")
        _ <- if (Set("faithful", "corrected")(mode)) Right(())
             else Left(s"bad --mode '$mode' (want faithful|corrected)")
        inputs = kv.view.filterKeys(Readiness.tables).toMap
        _ <- {
          val missing = Readiness.tables.diff(inputs.keySet)
          if (missing.isEmpty) Right(())
          else Left(s"missing input flags: ${missing.toSeq.sorted.map("--" + _).mkString(" ")}")
        }
      } yield RunConfig(date, inputs, out, mode, single, compact)
    }
  }
}
