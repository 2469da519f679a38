package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A table's metadata (schema, row count, file sizes, events ts unit)
  * is read from its parquet footers at most once per session and path,
  * with no Spark job: every catalog query builds its input frames
  * through these reads, and a schema-less parquet read or a count()
  * costs one or two jobs per call. */
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
      val walks = Tables.listingWalks.get()
      Tables.read(spark, path)
      assert(Tables.listingWalks.get() === walks, "an unchanged path must hit the cache")
      Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("a", "b")
        .write.mode("overwrite").parquet(path)
      val back = Tables.read(spark, path)
      assert(back.columns.toSeq === Seq("a", "b"))
      assert(back.orderBy("a").as[(Long, String)].collect().toSeq ===
        Seq((1L, "x"), (2L, "y"), (3L, "z")))
      assert(Tables.meta(spark, path).map(_.rows) === Some(3L))
    } finally rmTree(dir)
  }

  test("no source file outside Tables.scala reads parquet without a schema") {
    val root = Paths.get("src/main/scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Tables.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(".read.parquet(") =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      offenders.mkString("read these through Tables.read:\n  ", "\n  ", ""))
  }

  test("balance() walks the file listing once per (session, path)") {
    val before = Tables.listingWalks.get()
    Tables.loadBalanced(spark, SF, "lineitem")
    val afterFirst = Tables.listingWalks.get()
    Tables.loadBalanced(spark, SF, "lineitem")
    Tables.loadBalanced(spark, SF, "lineitem")
    val afterRepeat = Tables.listingWalks.get()
    // other suites may have warmed this path already in the shared
    // session — assert the *repeat* calls never re-walk, and the first
    // call walks at most once
    assert(afterFirst - before <= 1, "first load must walk at most once")
    assert(afterRepeat === afterFirst, "repeat loads must hit the cache")
  }

  test("balance() caches per path, not globally") {
    Tables.loadBalanced(spark, SF, "customer")
    val warm = Tables.listingWalks.get()
    Tables.loadBalanced(spark, SF, "orders") // distinct cold path
    // a distinct path may need its own (single) walk; the customer
    // path stays cached
    Tables.loadBalanced(spark, SF, "customer")
    val after = Tables.listingWalks.get()
    assert(after - warm <= 1, "only the new path may walk")
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
}
