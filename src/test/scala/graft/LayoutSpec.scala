package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Layout

class LayoutSpec extends AnyFunSuite with SparkSuite {

  /** Reference interleave, independent of the SQL expression. */
  private def zRef(x: Long, y: Long): Long =
    (0 until 8).map { i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }.sum

  test("z-value expression matches the reference interleave on known points") {
    import spark.implicits._
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (255L, 255L),
      (128L, 1L), (170L, 85L))
    val got = pts.toDF("zx", "zy")
      .withColumn("zval", expr(Layout.zExpr("zx", "zy", "div")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) === zRef(x, y), s"z($x,$y)")
    }
    // the full 16-bit space is hit exactly once by the 256x256 grid
    assert(zRef(255, 255) === 65535L && zRef(0, 0) === 0L)
  }

  test("zorder on testdata: buckets bound both dimensions (the pruning property)") {
    val rows = Layout.zorder(spark, SF).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (zx, zy, zval, b) =>
      assert(zx >= 0 && zx < 256 && zy >= 0 && zy < 256)
      assert(zRef(zx, zy) === zval)
      assert(b === zval / Layout.zBucketWidth && b >= 0 && b < Layout.zFileBuckets)
    }
    // Z-locality: within one file bucket (a 2048-z-value range), both
    // dims are confined to a sub-rectangle of the 256x256 space —
    // each bucket spans 2^11 z-values = a 64x32 (x,y) tile, so file
    // min/max stats prune on EITHER dim. A per-dim range sort would
    // bound one dim at 8 rows/bucket and leave the other at full width.
    rows.groupBy(_._4).foreach { case (b, rs) =>
      val xSpan = rs.map(_._1).max - rs.map(_._1).min
      val ySpan = rs.map(_._2).max - rs.map(_._2).min
      assert(xSpan < 64, s"bucket $b x-span $xSpan")
      assert(ySpan < 32, s"bucket $b y-span $ySpan")
    }
  }

  test("compact rewrites a fragmented table into few files, rows unchanged") {
    val work = java.nio.file.Files.createTempDirectory("graft_compact_spec").toFile
    try {
      // fragment: the ingest-small-file problem, 48 files for a tiny table
      val fragDir = new java.io.File(work, "frag").getPath
      Tables.loadEvents(spark, SF)
        .repartition(48)
        .write.parquet(fragDir)
      val frag = spark.read.parquet(fragDir)
      assert(frag.inputFiles.length >= 48, "precondition: input is fragmented")

      // compact to a byte-derived target — far fewer files
      val n = Layout.targetFileCount(spark, fragDir, targetBytes = 256 * 1024)
      assert(n < 48, s"target count $n must shrink the file count")
      val outDir = new java.io.File(work, "compacted").getPath
      Layout.compactFiles(frag, outDir, n)
      val back = spark.read.parquet(outDir)
      assert(back.inputFiles.length === n, "one output file per range partition")

      // unchanged rows: sort-invariant multiset checksum over all columns
      def checksum(df: org.apache.spark.sql.DataFrame) =
        df.select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"))
          .agg(count(lit(1)),
            // decimal sum: 64-bit hash values would overflow a long sum
            sum(xxhash64(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value"), col("props")).cast("decimal(38,0)")))
          .collect().head
      assert(checksum(back) === checksum(frag), "compaction must not alter rows")

      // each output file covers a narrow, non-overlapping zval range —
      // the min/max pruning property the rewrite exists to create
      val spans = back
        .withColumn("f", input_file_name())
        .groupBy("f").agg(min("zval").as("lo"), max("zval").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      spans.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) =>
          assert(lo2 >= hi1, s"file ranges must not interleave: $spans")
        case _ =>
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(work)
    }
  }

  test("compaction is one range shuffle (single Exchange in the write plan)") {
    val plan = Layout.compactPlan(Tables.loadEvents(spark, SF), 8)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // loadEvents may add its own spread-repartition on unsplittable
    // test parquet; count only the rangepartitioning exchange the
    // compaction itself introduces
    assert("rangepartitioning".r.findAllIn(plan.toLowerCase).length === 1,
      s"compaction must add exactly one range exchange:\n$plan")
  }

  test("layout_compact catalog query: per-bucket stats cover every event exactly once") {
    val rows = Layout.compact(spark, SF).collect()
    val total = Tables.loadEvents(spark, SF).count()
    assert(rows.map(_.getLong(1)).sum === total, "every row in exactly one bucket")
    rows.foreach { r =>
      val b = r.getLong(0)
      assert(r.getLong(5) >= b * Layout.zBucketWidth &&
        r.getLong(6) < (b + 1) * Layout.zBucketWidth,
        s"bucket $b zval range must sit inside its slice")
    }
  }
}
