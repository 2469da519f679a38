package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{RetailPipeline, SkewJoin}

/** Skew-resilience benchmark — `SkewBench <skewDir>` over the
  * BenchData `skew0.1` variant. Two measurements, one JSON line:
  *
  *  1. The heaviest catalog queries run unchanged on the skewed data
  *     (min-of-2, noop sink — same protocol as graft.Bench). The
  *     skew-sensitive ones (the retail fanout family, per-user event
  *     windows) absorb the hot keys; the document/vector queries see
  *     identical data and act as controls.
  *
  *  2. The faithful pipeline's date-less sales⋈inventory fanout join —
  *     the skew landmine the reference mandates — timed three ways on
  *     the hot cell: plain shuffle join with AQE off (one straggler
  *     task owns the whole hot key), AQE's runtime skew split, and
  *     SkewJoin.saltedBy (the manual tool for when AQE can't see the
  *     skew, e.g. a skewed agg feeding the join). The salted result is
  *     checksum-compared against the plain join — salting must never
  *     change the multiset (SkewJoinSpec proves the general property;
  *     this records it on the benchmark data itself).
  */
object SkewBench {

  private val heavy = Seq(
    "retail_weekly_faithful", "retail_weekly_corrected",
    "q04_snapshot_window", "q05_fanout_join", "q07_group_by_measure",
    "q08_metric_assembly", "q25_approx_quantiles",
    "events_sessionize", "events_window_dedup",
    "dedup_containment", "dedup_clusters", "sim_ann_ivfpq")

  def main(args: Array[String]): Unit = {
    val skewDir = args(0) // extra args (e.g. verify.sh's outDir) ignored
    val spark = GraftSession("graft-skewbench")

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def runNoop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // --- heaviest catalog queries on the skewed tables ---
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val qs = heavy.map(n => n -> SparkEntry.queries(n))
    qs.foreach { case (_, fn) =>
      try runNoop(fn(spark, warmDir)) catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    val queryTimes = qs.map { case (name, fn) =>
      val reps = (1 to 2).flatMap { _ =>
        val t = try Some(timed(runNoop(fn(spark, skewDir))))
                catch { case e: Throwable =>
                  System.err.println(s"[skewbench] $name: $e"); None }
        spark.catalog.clearCache()
        t
      }
      name -> (if (reps.nonEmpty) reps.min else -1.0)
    }

    // --- the fanout join, three ways ---
    val keys = Seq("PROD_KEY", "STORE_KEY")
    def frames(): (DataFrame, DataFrame) = {
      val (sales, inventory, _, _, _) = RetailPipeline.retailTables(spark, skewDir)
      (sales, inventory.withColumnRenamed("CAL_DT", "INVENTORY_CAL_DT"))
    }
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    def withAqe[A](on: Boolean)(body: => A): A = {
      val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", on.toString)
      try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }

    // (a) the BARE join: emitting the fanned-out rows is cheap even
    // from one straggler task, so this measures the floor each plan
    // pays before any downstream work
    val (s1, i1) = frames()
    val plainJoinT = withAqe(on = false) {
      timed(runNoop(s1.join(i1.hint("shuffle_hash"), keys)))
    }
    val (s2, i2) = frames()
    val aqeJoinT = withAqe(on = true) {
      timed(runNoop(s2.join(i2.hint("shuffle_hash"), keys)))
    }
    val (s3, i3) = frames()
    // inventory is the aggregated (smaller) side → it takes the
    // replication; salt from the sales row's transaction id (stable
    // across retries, unlike rand())
    val saltedJoinT = withAqe(on = false) {
      timed(runNoop(SkewJoin.saltedBy(s3, i3, keys, factor = 8, col("TRANS_ID"))))
    }

    // (b) the join FEEDING an aggregation on the join key — the case
    // salting exists for: in the plain plan the hot key's entire
    // fanned-out output is partially aggregated by the ONE task that
    // owns its hash partition; the salted join leaves the hot rows
    // spread over `factor` partitions, so the partial aggregate runs
    // parallel and only `factor` rows per key reach the final reduce
    def agg(joined: DataFrame): DataFrame =
      joined.groupBy(keys.map(col).toIndexedSeq: _*)
        .agg(count(lit(1)).as("n"),
          sum(col("SALES_QTY")).as("qty"),
          sum(col("INVENTORY_ON_HAND_QTY")).as("on_hand"))
    val (s4, i4) = frames()
    val plainAggT = withAqe(on = false) {
      timed(runNoop(agg(s4.join(i4.hint("shuffle_hash"), keys))))
    }
    val (s5, i5) = frames()
    val aqeAggT = withAqe(on = true) {
      timed(runNoop(agg(s5.join(i5.hint("shuffle_hash"), keys))))
    }
    val (s6, i6) = frames()
    val saltedAggT = withAqe(on = false) {
      timed(runNoop(agg(SkewJoin.saltedBy(s6, i6, keys, factor = 8, col("TRANS_ID")))))
    }

    // multiset equality of salted vs plain, recorded on the bench data
    val (s7, i7) = frames()
    val plainSum = checksum(s7.join(i7.hint("shuffle_hash"), keys)
      .select("PROD_KEY", "STORE_KEY", "TRANS_ID", "SALES_QTY", "INVENTORY_CAL_DT"))
    val (s8, i8) = frames()
    val saltedSum = checksum(
      SkewJoin.saltedBy(s8, i8, keys, factor = 8, col("TRANS_ID"))
        .select("PROD_KEY", "STORE_KEY", "TRANS_ID", "SALES_QTY", "INVENTORY_CAL_DT"))
    val equal = plainSum == saltedSum

    val qJson = queryTimes.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"skew","queries":$qJson,""" +
      s""""fanout_join":{"plain_noaqe":$plainJoinT,"aqe":$aqeJoinT,"salted_noaqe":$saltedJoinT},""" +
      s""""fanout_join_agg":{"plain_noaqe":$plainAggT,"aqe":$aqeAggT,"salted_noaqe":$saltedAggT},""" +
      s""""rows":${plainSum._1},"salted_multiset_equal":$equal,"sf":"$skewDir"}""")
    spark.stop()
    if (!equal) sys.exit(1)
  }
}
