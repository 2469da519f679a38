package graft

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import graft.app.RetailEtlApp
import graft.pipeline.{Notifier, Readiness, RunConfig}

/** Pipeline surface: readiness gate, run-config contract, CSV-in →
  * parquet-out end to end on hand-built fixture files (FIXTURES.md §A
  * scenarios; expectations computed by hand, independent of the
  * DuckDB oracle). */
class PipelineSpec extends AnyFunSuite with SparkSuite {

  private val d = LocalDate.parse("2024-01-08")

  // -- readiness (C2/C3) --------------------------------------------------

  test("readiness passes iff all five dated files are present") {
    val all = Set("calendar_20240108.csv", "inventory_20240108.csv",
      "product_20240108.csv", "sales_20240108.csv", "store_20240108.csv")
    assert(Readiness.check(all + "junk.txt", d).isRight)
    val r = Readiness.check(all - "sales_20240108.csv", d)
    assert(r === Left(Set("sales_20240108.csv")))
  }

  test("table-name derivation accepts only the contract shape") {
    assert(Readiness.tableNameOf("sales_20240108.csv") === Some("sales"))
    assert(Readiness.tableNameOf("sales_2024.csv") === None)
    assert(Readiness.tableNameOf("unknown_20240108.csv") === None)
  }

  test("run-config parse: full flags, defaults, and error paths") {
    val ok = RunConfig.parse(Seq("--date", "2024-01-08", "--out", "/tmp/o",
      "--calendar", "c", "--inventory", "i", "--product", "p",
      "--sales", "s", "--store", "st", "--mode", "corrected", "--single-file"))
    assert(ok.exists(c => c.mode == "corrected" && c.singleFile && c.inputs.size == 5))
    assert(RunConfig.parse(Seq("--date", "nope", "--out", "/tmp/o")).isLeft)
    assert(RunConfig.parse(Seq("--date", "2024-01-08")).swap
      .exists(_.contains("--out")))
    assert(RunConfig.parse(Seq("--date", "2024-01-08", "--out", "o")).swap
      .exists(_.contains("--calendar")))
  }

  // -- CSV fixtures (one week, one store/product) --------------------------

  private def write(dir: Path, name: String, lines: String*): Unit =
    Files.write(dir.resolve(name), String.join("\n", lines: _*).getBytes)

  /** sales 2 days (qty 5 then 10), inventory 2 days (on-hand 8 then 4,
    * day-2 out-of-stock) — exercises the date-less J1 fanout, both
    * snapshot windows, the low-stock flag, and the weeks_supply
    * group-by-measure landmine. */
  private lazy val fixtureDir: Path = {
    val dir = Files.createTempDirectory("graft_fixture")
    write(dir, "calendar_20240108.csv",
      "cal_dt,cal_type_desc,day_of_wk_num,day_of_wk_desc,yr_num,wk_num,yr_wk_num,mnth_num,yr_mnth_num,qtr_num,yr_qtr_num",
      "2024-01-01,day,1,Mon,2024,1,202401,1,202401,1,20241",
      "2024-01-02,day,2,Tue,2024,1,202401,1,202401,1,20241")
    write(dir, "sales_20240108.csv",
      "trans_id,prod_key,store_key,trans_dt,trans_time,sales_qty,sales_price,sales_amt,discount,sales_cost,sales_mgrn,ship_cost",
      "1,1,1,2024-01-01,900,5,10,50,0,25,25,0",
      "2,1,1,2024-01-02,900,10,10,100,0,50,50,0")
    write(dir, "inventory_20240108.csv",
      "cal_dt,store_key,prod_key,inventory_on_hand_qty,inventory_on_order_qty,out_of_stock_flg,waste_qty,promotion_flg,next_delivery_dt",
      "2024-01-01,1,1,8,3,0,0,false,2024-01-09",
      "2024-01-02,1,1,4,2,1,0,false,2024-01-09")
    write(dir, "store_20240108.csv",
      "store_key,store_num,store_desc,addr,city,region,cntry_cd,cntry_nm,postal_zip_cd,prov_state_desc,prov_state_cd,store_type_cd,store_type_desc,frnchs_flg,store_size,market_key,market_name,submarket_key,submarket_name,latitude,longitude",
      "1,S1,Store One,1 Main,Town,R1,CA,Canada,A1A,Ontario,ON,T,Type,false,100.0,1,M1,1,SM1,43.0,-79.0")
    write(dir, "product_20240108.csv",
      "prod_key,prod_name,vol,wgt,brand_name,status_code,status_code_name,category_key,category_name,subcategory_key,subcategory_name",
      "1,Widget,1,1,Brand,1,Active,1,Cat,1,SubCat")
    dir
  }

  test("faithful mode over CSV fixtures matches hand-computed metrics") {
    val conf = RunConfig(d, Map(
      "calendar" -> s"$fixtureDir/calendar_20240108.csv",
      "inventory" -> s"$fixtureDir/inventory_20240108.csv",
      "product" -> s"$fixtureDir/product_20240108.csv",
      "sales" -> s"$fixtureDir/sales_20240108.csv",
      "store" -> s"$fixtureDir/store_20240108.csv"), out = "/unused")
    val rows = RetailEtlApp.build(spark, conf)
      .orderBy("weeks_supply").collect()

    // J1 fanout: 2 sales × 2 inventory days = 4 merged rows; J7 ×
    // weeks_supply (2 distinct on-hand values) → 2 output rows that
    // differ ONLY in weeks_supply (8/15 and 4/15, rounded).
    assert(rows.length === 2)
    assert(rows.map(_.getAs[Double]("weeks_supply")).toSeq === Seq(0.27, 0.53))
    val r = rows.head
    assert(r.getAs[Int]("yr_wk_num") === 202401) // week from calendar dim
    assert(r.getAs[Double]("total_sales_amt") === 300.0)  // (50+100) ×2 fanout
    assert(r.getAs[Double]("total_sales_qty") === 30.0)   // (5+10) ×2
    assert(r.getAs[Double]("avg_sales_amt") === 10.0)     // 300/30
    assert(r.getAs[Double]("total_cost_week") === 150.0)  // (25+50) ×2
    assert(r.getAs[Double]("inventory_on_hand_qty_end_wk") === 4.0) // latest day
    assert(r.getAs[Double]("inventory_on_order_qty_end_wk") === 2.0)
    assert(r.getAs[Double]("out_of_stock_count") === 0.29) // 2 flagged rows / 7
    // m=2 oos rows, t2=4 pair rows → impact 6
    assert(r.getAs[Long]("total_low_stock_impact") === 6L)
    // 3-of-4 rows low-stock; re-fanout ×3: 3×(5+5+10+10) − 3×(8+4+8+4) = 90−72
    assert(r.getAs[Double]("potential_low_stock_impact") === 18.0)
    assert(r.getAs[Long]("no_stock_instances") === 8L) // 2 oos rows ×4 re-fanout
  }

  test("corrected mode over CSV fixtures: date-matched join, unique grain") {
    val conf = RunConfig(d, Map(
      "calendar" -> s"$fixtureDir/calendar_20240108.csv",
      "inventory" -> s"$fixtureDir/inventory_20240108.csv",
      "product" -> s"$fixtureDir/product_20240108.csv",
      "sales" -> s"$fixtureDir/sales_20240108.csv",
      "store" -> s"$fixtureDir/store_20240108.csv"), out = "/unused",
      mode = "corrected")
    val rows = RetailEtlApp.build(spark, conf).collect()
    assert(rows.length === 1) // no fanout, one grain row
    val r = rows.head
    assert(r.getAs[Number]("yr_wk_num").longValue === 202401L) // calendar-driven week
    assert(r.getAs[Double]("total_sales_amt") === 150.0) // un-inflated
    assert(r.getAs[Double]("total_sales_qty") === 15.0)
    assert(r.getAs[Double]("inventory_on_hand_qty_end_wk") === 4.0)
    assert(r.getAs[Long]("out_of_stock_days") === 1L)
    assert(r.getAs[Long]("low_stock_days") === 1L) // only day 2 (4 < 10)
  }

  test("typed Dataset facade: compile-time fields over the same CSVs") {
    import graft.schema.RetailRows
    val sales = RetailRows.sales(spark, s"$fixtureDir/sales_20240108.csv")
    assert(sales.collect().flatMap(_.sales_qty).sum === 15.0)
    val cal = RetailRows.calendar(spark, s"$fixtureDir/calendar_20240108.csv")
    assert(cal.collect().flatMap(_.yr_wk_num).distinct.toSeq === Seq(202401))
    val inv = RetailRows.inventory(spark, s"$fixtureDir/inventory_20240108.csv")
    assert(inv.filter(_.out_of_stock_flg.contains(1)).count() === 1)
  }

  test("end-to-end run: readiness gate + partitioned parquet output") {
    val out = Files.createTempDirectory("graft_out").toString
    val silent = new Notifier {
      var last: Set[String] = Set.empty
      def notifyMissing(date: LocalDate, missing: Set[String]): Unit = last = missing
    }
    // not-ready date → exit 2, no output
    assert(RetailEtlApp.run(Seq("--date", "2024-01-09", "--in-dir",
      fixtureDir.toString, "--out", out), silent) === 2)
    // ready date → exit 0, hive-partitioned parquet
    assert(RetailEtlApp.run(Seq("--date", "2024-01-08", "--in-dir",
      fixtureDir.toString, "--out", out, "--single-file"), silent) === 0)
    assert(Files.exists(Paths.get(out, "date=2024-01-08")))
    val back = spark.read.parquet(out)
    assert(back.count() === 2)
    assert(back.columns.contains("date")) // real partition column
  }

  test("csv unload filters future dates and writes one headered file") {
    import graft.sources.OutputWriter
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft_unload").toString + "/x"
    val df = spark.range(4).select(col("id"),
      when(col("id") < 2, date_sub(current_date(), 1))
        .otherwise(date_add(current_date(), 5)).as("dt"))
    OutputWriter.csvUnload(df, "dt", out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length === 1, "single headered file, like the reference unload")
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() === 2, "future-dated rows excluded")
    assert(back.columns.toSet === Set("id", "dt"))
  }

  test("daily reruns keep earlier date partitions (dynamic overwrite)") {
    import graft.sources.OutputWriter
    val out = Files.createTempDirectory("graft_daily").toString
    val df = spark.range(3).toDF("id")
    OutputWriter.writeFact(df, out, "2024-01-08")
    OutputWriter.writeFact(df, out, "2024-01-09") // next day's run
    OutputWriter.writeFact(spark.range(5).toDF("id"), out, "2024-01-09") // rerun
    val back = spark.read.parquet(out)
    assert(back.filter("date = '2024-01-08'").count() === 3, "prior day survived")
    assert(back.filter("date = '2024-01-09'").count() === 5, "rerun replaced its own day")
  }

  test("file notifier writes durable one-file-per-alert JSONL") {
    import graft.pipeline.FileNotifier
    val dir = Files.createTempDirectory("graft_alerts").toString + "/alerts"
    val n = new FileNotifier(new org.apache.hadoop.conf.Configuration(), dir)
    n.notifyMissing(LocalDate.parse("2024-01-08"), Set("sales", "calendar"))
    // names with JSON metacharacters must be escaped, not emitted raw
    n.notifyMissing(LocalDate.parse("2024-01-09"), Set("store\"x\\y"))
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".jsonl"))
    assert(files.length === 2, "one file per alert (atomic on any FS, incl. no-append stores)")
    // machine-readable: the whole directory parses as a JSON feed
    val parsed = spark.read.json(dir)
    assert(parsed.columns.toSet === Set("kind", "date", "missing"))
    assert(parsed.filter("date = '2024-01-08'").selectExpr("missing[0]", "missing[1]")
      .head().toSeq === Seq("calendar", "sales"))
    assert(parsed.filter("date = '2024-01-09'").selectExpr("missing[0]")
      .head().getString(0) === "store\"x\\y", "escaped round-trip")
    assert(!parsed.columns.contains("_corrupt_record"), "no malformed lines")
  }

  test("the one JSON string escaper round-trips quote, backslash and control chars") {
    // Verify's oracle dump and every alert transport escape through it;
    // Jackson rejects a raw control char, so this is a strict check
    val s = "q\"b\\t\tr\rn\nu\u0001end"
    val lit = graft.pipeline.AlertJson.jsonStr(s)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(lit, classOf[String]) === s, lit)
  }

  test("http notifier POSTs the shared alert JSON to the configured webhook") {
    import graft.pipeline.HttpNotifier
    val received = new java.util.concurrent.LinkedBlockingQueue[(String, String)]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      received.put((ex.getRequestHeaders.getFirst("Content-Type"), body))
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    server.start()
    try {
      val uri = java.net.URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/hook")
      new HttpNotifier(uri).notifyMissing(
        LocalDate.parse("2024-01-08"), Set("sales", "calendar"))
      val (ctype, body) = received.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(ctype === "application/json")
      // same wire format as the JSONL transport — one payload contract
      assert(body ===
        """{"kind":"readiness_missing","date":"2024-01-08","missing":["calendar","sales"]}""")
    } finally server.stop(0)
  }

  test("http notifier degrades to the fallback, never throws, on transport failure") {
    import graft.pipeline.{HttpNotifier, Notifier}
    val fellBack = new java.util.concurrent.atomic.AtomicReference[Set[String]](null)
    val fallback = new Notifier {
      def notifyMissing(date: LocalDate, missing: Set[String]): Unit =
        fellBack.set(missing)
    }
    // a port nothing listens on: connection refused. An alerting outage
    // must degrade the alert, not escalate into a pipeline failure.
    val dead = java.net.URI.create("http://127.0.0.1:1/hook")
    new HttpNotifier(dead, java.time.Duration.ofMillis(500), fallback)
      .notifyMissing(LocalDate.parse("2024-01-08"), Set("sales"))
    assert(fellBack.get() === Set("sales"), "alert must land on the fallback transport")

    // non-2xx responses are failures too (a 500 from the hook must not
    // silently swallow the alert)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.start()
    try {
      fellBack.set(null)
      val uri = java.net.URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/hook")
      new HttpNotifier(uri, java.time.Duration.ofSeconds(5), fallback)
        .notifyMissing(LocalDate.parse("2024-01-09"), Set("store"))
      assert(fellBack.get() === Set("store"), "5xx must route to the fallback")
    } finally server.stop(0)
  }

  test("smtp notifier delivers the alert payload over a raw SMTP session") {
    import graft.pipeline.SmtpNotifier
    val server = new java.net.ServerSocket(0)
    val got = new java.lang.StringBuilder
    val t = new Thread(() => {
      val s = server.accept()
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        s.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
      val out = new java.io.OutputStreamWriter(
        s.getOutputStream, java.nio.charset.StandardCharsets.UTF_8)
      def reply(r: String): Unit = { out.write(r + "\r\n"); out.flush() }
      reply("220 fake ESMTP")
      var inData = false
      var line = in.readLine()
      while (line != null) {
        if (inData) {
          if (line == ".") { inData = false; reply("250 queued") }
          else { got.append(line).append('\n'); () }
        } else line.takeWhile(_ != ' ') match {
          case "DATA" => inData = true; reply("354 go ahead")
          case "QUIT" => reply("221 bye")
          case "EHLO" => reply("250-fake hello"); reply("250 OK") // multiline
          case _      => reply("250 OK")
        }
        line = in.readLine()
      }
      s.close()
    })
    t.start()
    try {
      new SmtpNotifier("127.0.0.1", server.getLocalPort, "etl@example.com",
        "oncall@example.com")
        .notifyMissing(LocalDate.parse("2024-01-09"), Set("store", "sales"))
      t.join(5000)
      val msg = got.toString
      assert(msg.contains("Subject: [retail-etl] inputs missing for 2024-01-09"))
      assert(msg.contains("From: etl@example.com") && msg.contains("To: oncall@example.com"))
      assert(msg.contains("\"kind\":\"readiness_missing\"") &&
        msg.contains("\"sales\"") && msg.contains("\"store\""),
        s"payload must be the shared alert JSON:\n$msg")
    } finally server.close()
  }

  test("smtp notifier degrades to the fallback on connection failure") {
    import graft.pipeline.{Notifier, SmtpNotifier}
    val fellBack = new java.util.concurrent.atomic.AtomicReference(Set.empty[String])
    val fallback = new Notifier {
      def notifyMissing(date: LocalDate, missing: Set[String]): Unit =
        fellBack.set(missing)
    }
    // a ServerSocket opened and closed: the port is now refusing
    val dead = { val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    new SmtpNotifier("127.0.0.1", dead, "a@x", "b@x",
      java.time.Duration.ofSeconds(2), fallback)
      .notifyMissing(LocalDate.parse("2024-01-09"), Set("calendar"))
    assert(fellBack.get() === Set("calendar"), "refused connection must route to fallback")
  }

  test("alert-transport flags select the notifier and are stripped from the args") {
    import graft.app.RetailEtlApp
    import graft.pipeline.{FileNotifier, HttpNotifier, LogNotifier}
    val base = Seq("--date", "2024-01-08", "--out", "/tmp/x")
    val (n0, r0) = RetailEtlApp.notifierFromArgs(base)
    assert(n0 eq LogNotifier)
    assert(r0 === base)
    val (n1, r1) = RetailEtlApp.notifierFromArgs(
      base ++ Seq("--alert-webhook", "http://127.0.0.1:9/hook"))
    assert(n1.isInstanceOf[HttpNotifier])
    assert(r1 === base, "transport flags must not leak into RunConfig.parse")
    val (n2, r2) = RetailEtlApp.notifierFromArgs(
      Seq("--alert-dir", "/tmp/alerts") ++ base)
    assert(n2.isInstanceOf[FileNotifier])
    assert(r2 === base)
    val (n3, r3) = RetailEtlApp.notifierFromArgs(
      Seq("--alert-webhook", "http://127.0.0.1:9/h", "--alert-dir", "/tmp/a") ++ base)
    assert(n3.isInstanceOf[HttpNotifier], "webhook wins, JSONL dir becomes its fallback")
    assert(r3 === base)
    // --alert-smtp host:port:from:to selects the mail transport; it
    // outranks the JSONL dir and yields to the webhook
    val (n5, r5) = RetailEtlApp.notifierFromArgs(
      Seq("--alert-smtp", "127.0.0.1:2525:etl@x:ops@x") ++ base)
    assert(n5.isInstanceOf[graft.pipeline.SmtpNotifier])
    assert(r5 === base)
    // malformed smtp spec: flag survives so RunConfig.parse exits 1
    val (n6, r6) = RetailEtlApp.notifierFromArgs(
      Seq("--alert-smtp", "no-port-here") ++ base)
    assert(n6 eq LogNotifier)
    assert(r6.contains("--alert-smtp"), "malformed spec must fail parse, not vanish")
    assert(RetailEtlApp.run(r6, n6) === 1)

    // a flag-shaped "value" is a missing value: the transport flag must
    // stay in the args (RunConfig.parse then exits 1) instead of
    // swallowing the next option and silently dropping its transport
    val bad = Seq("--alert-webhook", "--alert-dir", "/tmp/a") ++ base
    val (n4, r4) = RetailEtlApp.notifierFromArgs(bad)
    assert(n4.isInstanceOf[FileNotifier],
      "the well-formed --alert-dir must still be honored")
    assert(r4.contains("--alert-webhook"),
      "the valueless flag must survive for parse to reject")
    assert(RetailEtlApp.run(r4, n4) === 1, "valueless transport flag → exit 1")
  }

  test("catalog fact table: queryable by name, reruns keep earlier dates") {
    import graft.sources.OutputWriter
    val table = "graft_weekly_fact_spec"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // DROP of a table the (in-memory) catalog never knew about leaves a
    // stale warehouse dir behind from prior JVMs — clear it or CTAS
    // refuses with LOCATION_ALREADY_EXISTS
    val wh = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, table)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(wh)
    val df = spark.range(3).toDF("id")
    OutputWriter.writeFactTable(df, table, "2024-01-08")
    OutputWriter.writeFactTable(df, table, "2024-01-09")
    OutputWriter.writeFactTable(spark.range(5).toDF("id"), table, "2024-01-09") // rerun
    // the Athena-analog contract: query by NAME, partition-pruned
    val back = spark.table(table)
    assert(back.filter("date = '2024-01-08'").count() === 3, "prior day survived")
    assert(back.filter("date = '2024-01-09'").count() === 5, "rerun replaced its own day")
    assert(spark.catalog.tableExists(table), "table registered in the catalog")
    val plan = back.filter("date = '2024-01-08'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("date=2024-01-08"),
      s"date filter should prune partitions:\n$plan")
    spark.sql(s"DROP TABLE $table")
  }

  test("deploy artifacts: scheduler args satisfy the CLI contract") {
    import graft.app.RetailEtlApp
    def slurp(p: String): String = {
      val f = new java.io.File(p)
      assert(f.isFile, s"$p must exist")
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
    }
    // Airflow DAG: the literal application_args block, templates bound
    val dag = slurp("deploy/airflow/graft_retail_dag.py")
    assert(dag.contains("java_class=\"graft.app.RetailEtlApp\""),
      "DAG must submit the engine's entry class")
    val block = dag.split("application_args=\\[")(1).split("\\]")(0)
    val args = "\"([^\"]*)\"".r.findAllMatchIn(block).map(_.group(1))
      .map { case "{{ ds }}" => "2024-01-08"; case s => s }.toSeq
    val parsed = RetailEtlApp.validateArgs(args)
    assert(parsed.isRight, s"DAG args must satisfy the CLI contract: $parsed")
    assert(parsed.toOption.get.date.toString === "2024-01-08")
    assert(parsed.toOption.get.mode === "faithful")

    // cron line: tokens after the jar, shell plumbing stripped
    val cron = slurp("deploy/cron/graft_retail.cron")
    val line = cron.linesIterator
      .filter(l => l.trim.nonEmpty && !l.trim.startsWith("#")).mkString(" ")
      .replaceAll("\"\\$\\(date[^)]*\\)\"", "2024-01-08")
    val toks = line.split("\\s+").toSeq.filter(t => t.nonEmpty && t != "\\")
    val jarIdx = toks.indexWhere(_.endsWith("graft.jar"))
    assert(jarIdx > 0, "cron line must spark-submit the jar")
    val cronArgs = toks.drop(jarIdx + 1).takeWhile(t => !t.startsWith(">>"))
    val cronParsed = RetailEtlApp.validateArgs(cronArgs)
    assert(cronParsed.isRight, s"cron args must satisfy the CLI contract: $cronParsed")
  }

  test("compactFactTable: rows survive, files shrink, store ranges prune") {
    import graft.sources.OutputWriter
    import org.apache.spark.sql.functions._
    val table = "graft_fact_compact_spec"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, table)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(wh)
    // 16 stores × 16 products spread over the 0..255 bucket domain so
    // the Z-curve's high bits interleave BOTH dimensions (store-only or
    // low-valued keys would put every split boundary on product bits);
    // fragment each date into 16 files — the post-daily-runs shape
    def day(seed: Int) = spark.range(16 * 16 * 8).select(
      (col("id") % 16 * 16).as("STORE_KEY"),
      (col("id") / 16 % 16 * 16 + 7).cast("long").as("PROD_KEY"),
      ((col("id") * 31 + seed) % 997).as("sales_qty"))
      .repartition(16)
    OutputWriter.writeFactTable(day(1), table, "2024-01-08")
    OutputWriter.writeFactTable(day(2), table, "2024-01-09")
    def files(date: String): Seq[java.io.File] =
      Option(new java.io.File(wh, s"date=$date").listFiles()).getOrElse(Array())
        .filter(f => f.getName.endsWith(".parquet")).toSeq
    def checksum(): Seq[org.apache.spark.sql.Row] =
      spark.table(table).groupBy("date")
        .agg(count(lit(1)).as("n"), sum(col("STORE_KEY") * 100000 +
          col("PROD_KEY") * 1000 + col("sales_qty")).as("ck"))
        .orderBy("date").collect().toSeq
    val before = checksum()
    assert(files("2024-01-08").size >= 16, "fixture must start fragmented")

    // refresh() — the overwrite invalidates cached file listings
    OutputWriter.compactFactTable(spark, table, nFilesOverride = Some(16))
    spark.catalog.refreshTable(table)

    assert(checksum() === before, "compaction must not alter rows")
    val f8 = files("2024-01-08")
    assert(f8.size <= 10, s"each date dir must shrink (got ${f8.size} files)")
    // the pruning payoff: per-file STORE_KEY footer ranges must be
    // narrow enough that a single-store predicate skips most files —
    // the skip a min/max-stats reader (parquet row groups, Delta/
    // Iceberg file stats) performs mechanically
    val ranges = f8.map { f =>
      val r = spark.read.parquet(f.getPath)
        .agg(min("STORE_KEY"), max("STORE_KEY")).head
      (r.getLong(0), r.getLong(1))
    }
    val stores = (0 until 16).map(_ * 16L)
    val coverage = stores.map(s =>
      ranges.count { case (lo, hi) => lo <= s && s <= hi }).sum.toDouble /
      (stores.size * ranges.size)
    assert(coverage <= 0.6,
      s"store ranges must localize: avg file-coverage $coverage, ranges $ranges")
    spark.sql(s"DROP TABLE $table")
  }

  test("lifecycle through main: daily run → --compact → next daily run → compact again") {
    // The composed daily→maintenance→daily cycle the RUNBOOK schedules,
    // driven through the REAL entry point (main returns normally on
    // exit 0; a nonzero would sys.exit and kill the suite loudly —
    // which is the right failure mode for a lifecycle regression).
    // Also the only exercise of compactFactPath, the path twin of the
    // unit-tested compactFactTable.
    val fx = Files.createTempDirectory("graft_lifecycle_fx")
    Seq("calendar", "inventory", "product", "sales", "store").foreach { t =>
      Files.copy(fixtureDir.resolve(s"${t}_20240108.csv"),
        fx.resolve(s"${t}_20240108.csv")): Unit
      // week 2 feed: identical content, next Monday's filename — the
      // readiness gate keys on the date in the NAME
      Files.copy(fixtureDir.resolve(s"${t}_20240108.csv"),
        fx.resolve(s"${t}_20240115.csv")): Unit
    }
    val out = Files.createTempDirectory("graft_lifecycle_out").toString

    // day 1, weekly cron shape: daily build + end-of-run maintenance
    RetailEtlApp.main(Array("--date", "2024-01-08", "--in-dir",
      fx.toString, "--out", out, "--compact"))
    def day(date: String) = spark.read.parquet(out)
      .filter(s"date = '$date'")
      .select("yr_wk_num", "total_sales_amt", "weeks_supply")
      .collect().map(_.toSeq).sortBy(_.toString)
    val d1 = day("2024-01-08")
    // the hand-computed fixture oracle (same rows the faithful-mode
    // test pins): compaction must round-trip them exactly
    assert(d1.map(_(2)).toSeq === Seq(0.27, 0.53))
    assert(d1.forall(r => r(0) === 202401 && r(1) === 300.0))
    val d1Files = Option(new java.io.File(out, "date=2024-01-08")
      .listFiles()).getOrElse(Array())
      .count(_.getName.endsWith(".parquet"))
    assert(d1Files === 1, s"maintenance must collapse small files (got $d1Files)")

    // day 2, daily cron shape: no maintenance flag
    RetailEtlApp.main(Array("--date", "2024-01-15", "--in-dir",
      fx.toString, "--out", out))
    assert(day("2024-01-15").map(_(2)).toSeq === Seq(0.27, 0.53))
    assert(day("2024-01-08").toSeq === d1.toSeq,
      "dynamic overwrite must leave the compacted prior day untouched")

    // weekly maintenance over the now multi-date root
    RetailEtlApp.main(Array("--date", "2024-01-15", "--in-dir",
      fx.toString, "--out", out, "--compact"))
    assert(day("2024-01-08").toSeq === d1.toSeq)
    assert(day("2024-01-15").map(_(2)).toSeq === Seq(0.27, 0.53))

    // read-back pruning over the compacted tree: a date predicate must
    // still prune statically (the partition layout survived both
    // maintenance rewrites)
    val plan = spark.read.parquet(out).filter("date = '2024-01-08'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("date=2024-01-08"),
      s"date filter should prune partitions of the compacted root:\n$plan")
  }
}
