package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A table's metadata (schema, row count, file sizes, events ts unit)
  * is read from its parquet footers at most once per session, path and
  * data-file listing, with no Spark job: every catalog query builds its
  * input frames through these reads, and a schema-less parquet read or
  * a count() costs one or two jobs per call. */
class TablesSpec extends AnyFunSuite with SparkSuite {

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  test("footer metadata gives the inferred schema and count() of every table") {
    Tables.names.foreach { n =>
      val path = s"$SF/$n.parquet"
      val m = Tables.meta(spark, path).getOrElse(fail(s"$n: no metadata"))
      val inferred = spark.read.parquet(path)
      assert(m.schema(spark) === inferred.schema, n)
      assert(Tables.rows(spark, SF, n) === inferred.count(), n)
    }
  }

  test("Tables reads run no Spark job, cold or warm") {
    // a new session starts with an empty metadata cache, so the first
    // round is cold and the second warm
    val s = spark.newSession()
    val metrics = new Bench.TaskMetricsByQuery(s)
    try metrics.attributed("reads") {
      (1 to 2).foreach { _ =>
        Tables.load(s, SF, "lineitem")
        Tables.loadBalanced(s, SF, "embeddings")
        Tables.loadEvents(s, SF)
        Tables.rows(s, SF, "embeddings")
      }
    } finally assert(metrics.finish(), "listener bus did not drain")
    assert(!metrics.totals.contains("reads"), metrics.totals)
  }

  test("a table rewritten at the same path is read with its new column, without a hook") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rewrite").toFile
    val path = new java.io.File(dir, "t.parquet").getPath
    try {
      Seq(1L, 2L).toDF("a").write.parquet(path)
      assert(Tables.read(spark, path).columns.toSeq === Seq("a"))
      val reads = Tables.footerReads.get()
      Tables.read(spark, path)
      assert(Tables.footerReads.get() === reads, "an unchanged path must hit the cache")
      Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("a", "b")
        .write.mode("overwrite").parquet(path)
      val back = Tables.read(spark, path)
      assert(back.columns.toSeq === Seq("a", "b"))
      assert(back.orderBy("a").as[(Long, String)].collect().toSeq ===
        Seq((1L, "x"), (2L, "y"), (3L, "z")))
      assert(Tables.meta(spark, path).map(_.rows) === Some(3L))
    } finally rmTree(dir)
  }

  /** `file:line: text` of every `src/main` line outside Tables.scala
    * that matches `pattern`. */
  private def mainOffenders(pattern: scala.util.matching.Regex): List[String] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Tables.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if pattern.findFirstIn(line).isDefined =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
  }

  test("no source file outside Tables.scala reads parquet without a schema") {
    val offenders = mainOffenders("""\.read\.parquet\(""".r)
    assert(offenders.isEmpty,
      offenders.mkString("read these through Tables.read:\n  ", "\n  ", ""))
  }

  test("no source file outside Tables.scala lists a table's data files") {
    // a Hadoop listFiles(path, recursive) or a DataFrame's inputFiles
    // is a second listing beside Tables.meta's, with its own freshness
    // rule; java.io.File.listFiles() (no arguments) deletes scratch
    // directories and is not a table read
    val offenders = mainOffenders("""listFiles\((?!\))|\.inputFiles\b""".r)
    assert(offenders.isEmpty,
      offenders.mkString("take these from Tables.meta:\n  ", "\n  ", ""))
  }

  test("balance() reads the footers once per (session, path)") {
    val before = Tables.footerReads.get()
    Tables.loadBalanced(spark, SF, "lineitem")
    val afterFirst = Tables.footerReads.get()
    Tables.loadBalanced(spark, SF, "lineitem")
    Tables.loadBalanced(spark, SF, "lineitem")
    val afterRepeat = Tables.footerReads.get()
    // other suites may have warmed this path already in the shared
    // session — assert the *repeat* calls never re-read, and the first
    // call reads at most once
    assert(afterFirst - before <= 1, "first load must read at most once")
    assert(afterRepeat === afterFirst, "repeat loads must hit the cache")
  }

  test("balance() caches per path, not globally") {
    Tables.loadBalanced(spark, SF, "customer")
    val warm = Tables.footerReads.get()
    Tables.loadBalanced(spark, SF, "orders") // distinct cold path
    // a distinct path may need its own (single) read; the customer
    // path stays cached
    Tables.loadBalanced(spark, SF, "customer")
    val after = Tables.footerReads.get()
    assert(after - warm <= 1, "only the new path may read")
  }

  test("one load lists its table once") {
    // the spread verdict and the read (or the events ts unit) share one
    // metadata lookup per load; an entry serving state at rest takes
    // its source fingerprint (and the served index its stride) from
    // that same lookup, on the building call and on the serving call
    def count(table: String): Long =
      Option(Tables.listings.get(s"$SF/$table.parquet")).fold(0L)(_.sum)
    def listed(tables: String*)(load: => Any): Seq[Long] = {
      val before = tables.map(count)
      load
      tables.map(count).zip(before).map { case (a, b) => a - b }
    }
    assert(listed("lineitem")(Tables.loadBalanced(spark, SF, "lineitem")) === Seq(1L))
    assert(listed("events")(Tables.loadEvents(spark, SF)) === Seq(1L))
    val atRest = Seq(
      "q13_bucketed_join" -> Seq("lineitem", "orders"),
      "dedup_incremental_bucketed" -> Seq("documents"),
      "sim_ann_ivfpq_served" -> Seq("embeddings"))
    try atRest.foreach { case (entry, tables) =>
      (1 to 2).foreach { call =>
        assert(listed(tables: _*)(SparkEntry.queries(entry)(spark, SF)) ===
          tables.map(_ => 1L), s"$entry, call $call")
      }
    } finally spark.catalog.clearCache()
  }

  test("cached balance still spreads an unsplittable small input") {
    // the decision itself must survive caching: tiny single-row-group
    // parquet at local[4] should come back repartitioned to cluster
    // parallelism both on the cold and the cached call
    val target = spark.sparkContext.defaultParallelism
    val cold = Tables.loadBalanced(spark, SF, "region")
    val cached = Tables.loadBalanced(spark, SF, "region")
    assert(cold.rdd.getNumPartitions === target)
    assert(cached.rdd.getNumPartitions === target)
  }

  test("events ts unit is read from the parquet footer and normalized to nanos") {
    // the generator-vintage matrix the round-12 incident exposed: the
    // same logical instant stored as TIMESTAMP(MICROS), TIMESTAMP
    // (MILLIS), or a plain epoch-nanos INT64 must all load to the same
    // (ts = epoch nanos, sec = epoch seconds) engine contract — the
    // declared-long read alone cannot tell them apart, only the footer
    // can.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tsunit").toFile
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete(): Unit
    }
    val epochSec = 1704067200L // 2024-01-01T00:00:00Z
    try {
      val tsRow = Seq((1L,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(epochSec)),
        5L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
      try {
        for ((mode, factor) <- Seq("TIMESTAMP_MICROS" -> 1000L,
            "TIMESTAMP_MILLIS" -> 1000000L)) {
          spark.conf.set("spark.sql.parquet.outputTimestampType", mode)
          val sub = new java.io.File(dir, mode)
          tsRow.write.mode("overwrite").parquet(s"$sub/events.parquet")
          assert(Tables.eventsTsNanosFactor(spark, s"$sub/events.parquet") === factor,
            s"$mode footer must yield factor $factor")
          val r = Tables.loadEvents(spark, sub.getPath)
            .select("ts", "sec").head()
          assert(r.getLong(0) === epochSec * 1000000000L, s"$mode ts not nanos")
          assert(r.getLong(1) === epochSec, s"$mode sec")
        }
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
      // legacy vintage: plain INT64 already in nanos
      val longSub = new java.io.File(dir, "nanos_long")
      Seq((1L, epochSec * 1000000000L, 5L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$longSub/events.parquet")
      assert(Tables.eventsTsNanosFactor(spark, s"$longSub/events.parquet") === 1L)
      val r = Tables.loadEvents(spark, longSub.getPath).select("ts", "sec").head()
      assert(r.getLong(0) === epochSec * 1000000000L && r.getLong(1) === epochSec)
    } finally rmTree(dir)
  }

  test("footer probe recurses into partitioned layouts and flags mixed vintages") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tsprobe").toFile
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete(): Unit
    }
    val epochSec = 1704067200L
    def eventsDf = Seq((1L, epochSec * 1000000000L, 5L, "click", 1.0, "{}", "2024-01-01"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props", "dt")
    try {
      // a dt=…-partitioned table: the first listStatus entry is a
      // SUBDIRECTORY, so a non-recursive probe would hand a directory
      // to ParquetFileReader and throw; the probe must find a leaf
      val part = new java.io.File(dir, "partitioned/events.parquet")
      eventsDf.write.partitionBy("dt").mode("overwrite").parquet(part.getPath)
      assert(Tables.eventsTsNanosFactor(spark, part.getPath) === 1L,
        "partitioned layout must probe a leaf data file")
      // an empty directory (stream source dir created ahead of data):
      // Opt form reports None instead of throwing, so streams can
      // start and drain later-arriving files
      val empty = new java.io.File(dir, "empty/events.parquet")
      assert(empty.mkdirs())
      assert(Tables.eventsTsNanosFactorOpt(spark, empty.getPath).isEmpty)
      intercept[IllegalArgumentException] {
        Tables.eventsTsNanosFactor(spark, empty.getPath)
      }
      // mixed vintages (an old MICROS table with a NANOS-long file
      // appended beside it) must fail loudly, not scale half the rows
      // with the wrong factor
      val mixed = new java.io.File(dir, "mixed/events.parquet")
      val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
      try {
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        Seq((1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(epochSec)),
          5L, "click", 1.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("overwrite").parquet(mixed.getPath)
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
      // drop a plain-long (nanos-vintage) part beside the MICROS parts,
      // named to sort last
      val stray = new java.io.File(dir, "stray")
      Seq((2L, epochSec * 1000000000L, 6L, "view", 2.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stray.getPath)
      val strayPart = Option(stray.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head
      val dest = new java.io.File(mixed, "part-zzz-mixed-vintage.parquet")
      java.nio.file.Files.copy(strayPart.toPath, dest.toPath)
      val e = intercept[IllegalArgumentException] {
        Tables.eventsTsNanosFactor(spark, mixed.getPath)
      }
      assert(e.getMessage.contains("mixed ts vintages"))
    } finally rmTree(dir)
  }

  test("a part added inside an existing partition directory misses the cache") {
    // the new part changes the partition directory's mtime but not the
    // root's; only a listing of the data files sees it
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_nested").toFile
    val path = new java.io.File(dir, "events.parquet")
    val partDir = new java.io.File(path, "dt=2024-01-01")
    val epochSec = 1704067200L
    def events(ids: Range) = ids.map(i => (i.toLong, epochSec * 1000000000L, 5L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // write `df` as one part elsewhere, then copy it into the partition
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = new java.io.File(dir, s"stage_$name")
      df.coalesce(1).write.parquet(stage.getPath)
      val part = stage.listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, new java.io.File(partDir, name).toPath): Unit
    }
    try {
      events(0 until 100).withColumn("dt", org.apache.spark.sql.functions.lit("2024-01-01"))
        .coalesce(1).write.partitionBy("dt").parquet(path.getPath)
      assert(Tables.rows(spark, dir.getPath, "events") === 100L)
      assert(Tables.eventsTsNanosFactor(spark, path.getPath) === 1L)
      val rootMtime = path.lastModified()
      land(events(100 until 150), "part-zzz-added.parquet")
      assert(path.lastModified() === rootMtime, "precondition: the root is not touched")
      assert(spark.read.parquet(path.getPath).count() === 150L)
      assert(Tables.rows(spark, dir.getPath, "events") === 150L,
        "the added part's rows must be counted")
      // a MICROS-vintage part landing the same way, named to sort last
      val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
      try {
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        land(Seq((200L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(epochSec)),
          5L, "click", 1.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
          "part-zzzz-micros.parquet")
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
      val e = intercept[IllegalArgumentException] {
        Tables.eventsTsNanosFactor(spark, path.getPath)
      }
      assert(e.getMessage.contains("mixed ts vintages"))
    } finally rmTree(dir)
  }
}
