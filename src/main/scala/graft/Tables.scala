package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._

/** Table catalog over the driver-generated parquet test data
  * (TESTDATA.md). At 100 TB these reads are plain parquet scans over a
  * partitioned lake path — column pruning + predicate pushdown flow to
  * the scan automatically because every query here is built
  * declaratively on top of these frames.
  *
  * The reference loads its 5 retail tables as headered CSV with
  * `inferSchema=True` (reference: Data Transformation.py:24-34), which
  * costs an extra full scan per file; we read parquet (self-describing)
  * and, for the CSV ingestion surface, declare explicit schemas — see
  * [[graft.sources.CsvTableReader]].
  *
  * Metadata rule: every call lists the table's data files (recursive;
  * one `getFileStatus` for a single-file root) and digests each
  * file's (relative path, length, mtime) under the qualified root.
  * That digest is the one freshness key: the schema, row count,
  * data-file sizes and events `ts` unit come from ONE read of the
  * parquet footers on the driver, cached per (session, path) and read
  * again only when the digest changes — no Spark job, and any
  * rewrite, added part or touched file at any depth misses the cache.
  * The same digest is the source fingerprint of state kept at rest
  * ([[loadWithMeta]], `Bucketing.ensureBuilt`). Every read passes the
  * cached schema to `spark.read.schema(...)`: a schema-less
  * `spark.read.parquet` runs a footer-merge job on every call, and
  * `count()` runs two. Reads of state at rest go through [[read]];
  * `TablesSpec` fails on a schema-less parquet read, or a Hadoop file
  * listing, anywhere else in `src/main`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One footer read of the parquet table rooted at `path`: its data
    * files (recursive, name order, `_`/`.`-prefixed names skipped at
    * every level, as Spark's file index does) with their sizes, the
    * digest of that listing, and the first file's footer. The row
    * count and the `ts` unit read the other footers they need on first
    * use. */
  private[graft] final class Meta(path: String, val fingerprint: String,
      val files: Seq[FileStatus], first: ParquetMetadata, conf: Configuration) {

    /** Spark's own inference: the first footer through the session's
      * converter (mergeSchema off reads one footer too). Converted per
      * call, so the session's parquet type confs always apply. */
    def schema(spark: SparkSession): StructType =
      ParquetFileFormat.readSchemaFromFooter(new Footer(files.head.getPath, first),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))

    /** Sum of every row group's record count over all data files. */
    lazy val rows: Long = (first +: files.tail.map(f => footer(f.getPath, conf)))
      .map(_.getBlocks.asScala.map(_.getRowCount).sum).sum

    /** See [[eventsTsNanosFactorOpt]]. */
    lazy val tsNanosFactor: Long = {
      val head = tsUnit(first)
      if (files.size > 1) {
        val last = tsUnit(footer(files.last.getPath, conf))
        require(head == last,
          s"mixed ts vintages under $path: ${files.head.getPath} scales x$head " +
            s"but ${files.last.getPath} scales x$last — a uniform-unit layout is " +
            "required (re-generate the table in one vintage)")
      }
      head
    }
  }

  private def footer(file: Path, conf: Configuration): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try reader.getFooter finally reader.close()
  }

  private def tsUnit(footer: ParquetMetadata): Long = {
    val schema = footer.getFileMetaData.getSchema
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
  }

  private val metaCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Meta]]()

  /** Footer-read counter — spec probe for the one-read-per-listing
    * guarantee (TablesSpec); no production reads. */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Listings per path — spec probe for the one-listing-per-load
    * guarantee (TablesSpec); no production reads. */
  private[graft] val listings =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()

  /** The cached metadata of the table at `path`, read again when the
    * digest of its data-file listing changed; None when `path` does
    * not exist or holds no data file. The outer map is WEAK on the
    * session so stopped test/notebook sessions don't accumulate. */
  private[graft] def meta(spark: SparkSession, path: String): Option[Meta] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val perPath = metaCache.synchronized {
      metaCache.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[String, Meta]())
    }
    listing(p.getFileSystem(conf), p) match {
      case None => perPath.remove(path); None
      case Some((fp, files)) =>
        Some(perPath.compute(path, (_, old) =>
          if (old != null && old.fingerprint == fp) old
          else {
            footerReads.incrementAndGet()
            new Meta(path, fp, files, footer(files.head.getPath, conf), conf)
          }))
    }
  }

  /** Non-empty data files under `p`, in name order, with the digest of
    * the qualified root and each file's (relative path, length, mtime);
    * None when `p` does not exist or holds no data file. The digest is
    * the same however the root is spelled (`/x` or `file:/x`). */
  private def listing(fs: FileSystem, p: Path): Option[(String, Seq[FileStatus])] = {
    listings.computeIfAbsent(p.toString, _ => new java.util.concurrent.atomic.LongAdder)
      .increment()
    val root = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    root.flatMap { st =>
      // qualify before stripping: a RELATIVE root would otherwise leave
      // the absolute listing paths unstripped and the hidden-segment
      // filter would evaluate cwd ancestor names
      val qualified = fs.makeQualified(st.getPath)
      def rel(f: FileStatus): String =
        fs.makeQualified(f.getPath).toUri.getPath.stripPrefix(qualified.toUri.getPath)
      val files =
        if (!st.isDirectory) Seq(st)
        else {
          val it = fs.listFiles(st.getPath, true)
          val buf = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
          while (it.hasNext) {
            val f = it.next()
            if (f.isFile && f.getLen > 0 &&
              !rel(f).split('/').exists(seg => seg.startsWith("_") || seg.startsWith(".")))
              buf += f
          }
          buf.sortBy(_.getPath.toString).toSeq
        }
      Option.when(files.nonEmpty) {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        md.update(qualified.toString.getBytes(UTF_8))
        files.foreach(f =>
          md.update(s"\n${rel(f)}#${f.getLen}#${f.getModificationTime}".getBytes(UTF_8)))
        (java.util.HexFormat.of.formatHex(md.digest), files)
      }
    }
  }

  private def metaOf(spark: SparkSession, path: String): Meta =
    meta(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no parquet parts under $path"))

  /** The parquet table at `path` (file or directory; a partitioned
    * directory still gets its partition columns appended) with its
    * schema from the cached footer. A missing or empty path gets
    * Spark's own error. */
  def read(spark: SparkSession, path: String): DataFrame = readWith(spark, path, meta(spark, path))

  private def readWith(spark: SparkSession, path: String, m: Option[Meta]): DataFrame = m match {
    case Some(t) => spark.read.schema(t.schema(spark)).parquet(path)
    case None    => spark.read.parquet(path)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  /** Row count of a catalog table from its footers: no Spark job. */
  def rows(spark: SparkSession, sfDir: String, name: String): Long =
    metaOf(spark, s"$sfDir/$name.parquet").rows

  /** Like [[load]], but spread across the cluster when the input has
    * fewer splits than cores. Small single-row-group parquet (the test
    * data) is unsplittable, so every map stage before the first
    * shuffle would otherwise run on ONE task; a real lake table has
    * plenty of splits and passes through untouched. Use for operators
    * with heavy per-row compute (hashing, sketching, vector math). */
  def loadBalanced(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val m = meta(spark, path)
    balance(spark, m, readWith(spark, path, m))
  }

  /** A catalog table for state built from it at rest: the frame
    * ([[loadBalanced]] when `balanced`, else [[load]]) and the [[Meta]]
    * its read came from, whose `fingerprint` keys the build
    * (`Bucketing.ensureBuilt`) and whose `rows` size the query side —
    * so one call lists its source table once. */
  private[graft] def loadWithMeta(spark: SparkSession, sfDir: String, name: String,
      balanced: Boolean): (DataFrame, Meta) = {
    val path = s"$sfDir/$name.parquet"
    val m = metaOf(spark, path)
    val df = readWith(spark, path, Some(m))
    (if (balanced) balance(spark, Some(m), df) else df, m)
  }

  /** The spread verdict takes the load's own [[Meta]], so one load
    * lists its table once. */
  private def balance(spark: SparkSession, m: Option[Meta], df: DataFrame): DataFrame =
    if (m.exists(needsSpread(spark, _)))
      df.repartition(spark.sparkContext.defaultParallelism)
    else df

  /** Scan-split estimate from the cached file sizes, replicating
    * Spark's own FilePartition sizing: maxSplitBytes =
    * min(maxPartitionBytes, max(openCostInBytes, totalBytes/cores)) —
    * the bytesPerCore term matters, because a mid-size file (say 1 GiB
    * at 32 cores) is already split into ~cores partitions by the
    * native scan and must NOT be force-repartitioned. Parallelism and
    * the split confs are read per call, so changing them mid-session
    * re-evaluates the verdict. */
  private def needsSpread(spark: SparkSession, m: Meta): Boolean = {
    val target = spark.sparkContext.defaultParallelism
    val sizes = m.files.map(_.getLen)
    if (sizes.length >= target) false
    else {
      val sqlConf = spark.sessionState.conf
      val openCost = sqlConf.filesOpenCostInBytes.max(1L)
      val bytesPerCore = (sizes.sum + sizes.length * openCost) / target.max(1)
      val maxSplit = sqlConf.filesMaxPartitionBytes.min(openCost.max(bytesPerCore)).max(1L)
      sizes.map(len => ((len + maxSplit - 1) / maxSplit).max(1L)).sum < target
    }
  }

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
    metaOf(spark, path).tsNanosFactor

  /** As [[eventsTsNanosFactor]] but None when `path` holds no data
    * files yet. A partitioned `dt=.../part-*.parquet` layout probes leaf
    * files. The unit is probed from the name-order first AND last data
    * files and the two must agree: a mixed-vintage layout would
    * otherwise silently scale part of the rows with the wrong factor.
    * Two footers cannot prove all n files uniform, but they catch the
    * realistic mixed case — a regenerated table appended beside an old
    * one, which lands the vintages at the name-order extremes; full
    * uniformity is the documented contract of the testdata generator
    * (TESTDATA.md). */
  private[graft] def eventsTsNanosFactorOpt(
      spark: SparkSession, path: String): Option[Long] =
    meta(spark, path).map(_.tsNanosFactor)

  def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val m = metaOf(spark, path)
    // floor division via pmod (Spark's `div` truncates toward zero,
    // which would disagree with the floor-semantics oracles for any
    // pre-1970 timestamp)
    balance(spark, Some(m), spark.read.schema(eventsSchema).parquet(path)
      .withColumn("ts", org.apache.spark.sql.functions.expr(s"ts * ${m.tsNanosFactor}L"))
      .withColumn("sec",
        org.apache.spark.sql.functions.expr("(ts - pmod(ts, 1000000000)) div 1000000000")))
  }
}
