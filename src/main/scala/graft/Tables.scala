package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Table catalog over the driver-generated parquet test data
  * (TESTDATA.md). At 100 TB these reads are plain `spark.read.parquet`
  * over a partitioned lake path — column pruning + predicate pushdown
  * flow to the scan automatically because every query here is built
  * declaratively on top of these frames.
  *
  * The reference loads its 5 retail tables as headered CSV with
  * `inferSchema=True` (reference: Data Transformation.py:24-34), which
  * costs an extra full scan per file; we read parquet (self-describing)
  * and, for the CSV ingestion surface, declare explicit schemas — see
  * [[graft.sources.CsvTableReader]].
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Like [[load]], but spread across the cluster when the input has
    * fewer splits than cores. Small single-row-group parquet (the test
    * data) is unsplittable, so every map stage before the first
    * shuffle would otherwise run on ONE task; a real lake table has
    * plenty of splits and passes through untouched. Use for operators
    * with heavy per-row compute (hashing, sketching, vector math). */
  /** Scan-split estimate from driver-side file metadata, replicating
    * Spark's own FilePartition sizing: maxSplitBytes =
    * min(maxPartitionBytes, max(openCostInBytes, totalBytes/cores)) —
    * the bytesPerCore term matters, because a mid-size file (say 1 GiB
    * at 32 cores) is already split into ~cores partitions by the
    * native scan and must NOT be force-repartitioned. Metadata-only
    * (the listing is already cached by the read) — no full RDD
    * conversion per query build the way df.rdd.getNumPartitions would
    * force.
    *
    * The verdict is CACHED per (session, path): at a 100 TB table with
    * millions of files, re-walking `inputFiles` + per-file
    * `getFileStatus` on every query build is pure wasted driver work —
    * the decision depends only on the listing and session confs, and a
    * table that grows enough to change it within one session would be
    * re-read through a fresh session (or an explicit [[load]]) anyway.
    * The outer map is WEAK on the session so stopped test/notebook
    * sessions don't accumulate. */
  private val balanceCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]]()

  /** Listing-walk counter — spec probe for the one-walk-per-path
    * guarantee (TablesSpec); no production reads. */
  private[graft] val listingWalks = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Drop cached spread verdicts for `path` (every conf variant) in
    * `spark`'s cache — call after rewriting a table's files in place
    * within one long-lived session (notebook compaction flows); a
    * fresh session never needs it. */
  def invalidateBalance(spark: SparkSession, path: String): Unit =
    balanceCache.synchronized {
      val m = balanceCache.get(spark)
      if (m != null) { m.keySet.removeIf(_.startsWith(s"$path#")); () }
    }

  private def balance(spark: SparkSession, df: DataFrame, cacheKey: String): DataFrame = {
    val perPath = balanceCache.synchronized {
      var m = balanceCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
        balanceCache.put(spark, m)
      }
      m
    }
    // the verdict depends on parallelism and the split-sizing confs,
    // so they are part of the key: changing them mid-session (notebook
    // tuning) re-evaluates instead of serving a stale verdict. A
    // rewrite of the files under an unchanged path still needs the
    // explicit [[invalidateBalance]] hook.
    val sqlConf = spark.sessionState.conf
    val confKey = s"$cacheKey#${spark.sparkContext.defaultParallelism}" +
      s"#${sqlConf.filesMaxPartitionBytes}#${sqlConf.filesOpenCostInBytes}"
    val spread: Boolean = perPath.computeIfAbsent(confKey, _ => needsSpread(spark, df))
    if (spread) df.repartition(spark.sparkContext.defaultParallelism) else df
  }

  private def needsSpread(spark: SparkSession, df: DataFrame): Boolean = {
    listingWalks.incrementAndGet()
    val target = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.length >= target) false
    else {
      val hconf = spark.sparkContext.hadoopConfiguration
      val sqlConf = spark.sessionState.conf
      val openCost = sqlConf.filesOpenCostInBytes.max(1L)
      val sizes = files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hconf).getFileStatus(p).getLen
      }
      val bytesPerCore = (sizes.sum + files.length * openCost) / target.max(1)
      val maxSplit = sqlConf.filesMaxPartitionBytes.min(openCost.max(bytesPerCore)).max(1L)
      val splits = sizes.map(len => ((len + maxSplit - 1) / maxSplit).max(1L)).sum
      splits < target
    }
  }

  def loadBalanced(spark: SparkSession, sfDir: String, name: String): DataFrame =
    balance(spark, load(spark, sfDir, name), s"$sfDir/$name.parquet")

  /** `events.ts` arrives as INT64 whose logical unit depends on the
    * generator vintage: TIMESTAMP(NANOS) (which Spark 4 refuses to
    * convert to TimestampType), TIMESTAMP(MICROS)/(MILLIS) (pandas/
    * arrow defaults), or a plain unannotated epoch-nanos long.
    * Declaring ts as LongType in an explicit read schema yields the
    * raw INT64 per row in all four cases WITHOUT the session-wide
    * `spark.sql.legacy.parquet.nanosAsLong` flag (a conf mutation that
    * would surprise other users of the session); the engine contract
    * after [[loadEvents]] is always ts = epoch NANOS, sec = floored
    * epoch seconds — all event queries do their window arithmetic in
    * the epoch-seconds domain anyway (see operators.Events). */
  private[graft] val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Multiplier that converts the on-disk INT64 `ts` unit of the
    * events table at `path` (file or directory) to NANOS, read from
    * parquet footers — driver-side metadata, no data scan, no
    * timezone semantics involved (the raw count is scaled as-is,
    * matching DuckDB's reading of the same naive value). Unannotated
    * INT64 means the legacy epoch-nanos contract. Throws when `path`
    * holds no data files; streaming sources that may start against an
    * empty dir use [[eventsTsNanosFactorOpt]]. */
  private[graft] def eventsTsNanosFactor(spark: SparkSession, path: String): Long =
    eventsTsNanosFactorOpt(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no parquet parts under $path"))

  /** As [[eventsTsNanosFactor]] but None when `path` holds no data
    * files yet. Data files are discovered RECURSIVELY (a partitioned
    * `dt=.../part-*.parquet` layout must probe a leaf file, not a
    * subdirectory), skipping `_`/`.`-prefixed names at every level
    * (`_SUCCESS`, `_spark_metadata`, `.crc`). The unit is probed from
    * the name-order first AND last data files and the two must agree:
    * a mixed-vintage layout would otherwise silently scale part of
    * the rows with the wrong factor. Two footers cannot prove all n
    * files uniform, but they catch the realistic mixed case — a
    * regenerated table appended beside an old one, which lands the
    * vintages at the name-order extremes; full uniformity is the
    * documented contract of the testdata generator (TESTDATA.md). */
  private[graft] def eventsTsNanosFactorOpt(
      spark: SparkSession, path: String): Option[Long] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val dataFiles: Seq[org.apache.hadoop.fs.Path] =
      if (fs.getFileStatus(p).isDirectory) {
        // qualify before stripping: a RELATIVE `path` would otherwise
        // leave the absolute listing paths unstripped and the hidden-
        // segment filter would evaluate cwd ancestor names (a '.'- or
        // '_'-prefixed ancestor dir would reject every data file)
        val rootPath = fs.makeQualified(p).toUri.getPath
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
        while (it.hasNext) {
          val st = it.next()
          val rel = fs.makeQualified(st.getPath).toUri.getPath.stripPrefix(rootPath)
            .split('/').filter(_.nonEmpty)
          if (st.isFile && st.getLen > 0 &&
            !rel.exists(seg => seg.startsWith("_") || seg.startsWith(".")))
            buf += st.getPath
        }
        buf.sortBy(_.toString).toSeq
      } else Seq(p)
    if (dataFiles.isEmpty) return None
    def unitOf(file: org.apache.hadoop.fs.Path): Long = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        if (!schema.containsField("ts")) 1L
        else schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000000L
              case LogicalTypeAnnotation.TimeUnit.MICROS => 1000L
              case _                                     => 1L
            }
          case _ => 1L
        }
      } finally reader.close()
    }
    val first = unitOf(dataFiles.head)
    if (dataFiles.size > 1) {
      val last = unitOf(dataFiles.last)
      require(first == last,
        s"mixed ts vintages under $path: ${dataFiles.head} scales x$first " +
          s"but ${dataFiles.last} scales x$last — a uniform-unit layout is " +
          "required (re-generate the table in one vintage)")
    }
    Some(first)
  }

  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    // floor division via pmod (Spark's `div` truncates toward zero,
    // which would disagree with the floor-semantics oracles for any
    // pre-1970 timestamp)
    val path = s"$sfDir/events.parquet"
    val factor = eventsTsNanosFactor(spark, path)
    spark.read.schema(eventsSchema).parquet(path)
      .withColumn("ts", org.apache.spark.sql.functions.expr(s"ts * ${factor}L"))
      .withColumn("sec",
        org.apache.spark.sql.functions.expr("(ts - pmod(ts, 1000000000)) div 1000000000"))
  }

  def loadEvents(spark: SparkSession, sfDir: String): DataFrame =
    balance(spark, eventsRaw(spark, sfDir), s"$sfDir/events.parquet#nanos")
}
