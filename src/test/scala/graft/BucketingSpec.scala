package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Bucketing

/** Bucketed writes must buy exchange-free joins and aggregations on
  * the bucket key — the once-per-write shuffle trade that matters when
  * a 100 TB fact is joined far more often than it is rewritten. */
class BucketingSpec extends AnyFunSuite with SparkSuite {

  test("join of two same-bucketed tables plans without any Exchange") {
    val li = Tables.load(spark, SF, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = Tables.load(spark, SF, "orders")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    // rewriteBucketed clears stale catalog entries AND their orphaned
    // warehouse dirs (the in-memory catalog forgets tables across JVMs
    // but the directories persist)
    Bucketing.rewriteBucketed(li, "li_bkt", buckets = 8, keys = Seq("l_orderkey"))
    Bucketing.rewriteBucketed(ord, "ord_bkt", buckets = 8, keys = Seq("l_orderkey"))

    // sf0.001 tables are broadcast-sized, which would sidestep the
    // bucketed path entirely — force the big-big join shape this
    // utility exists for
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.coLocatedJoin(spark, "li_bkt", "ord_bkt", Seq("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")

      // correctness: same result as the plain (shuffling) join
      val expected = li.join(ord, Seq("l_orderkey")).count()
      assert(joined.count() === expected)

      // aggregation on the bucket key also skips its exchange
      val aggPlan = spark.table("li_bkt").groupBy("l_orderkey")
        .agg(sum("l_quantity")).queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"), s"bucketed agg must not shuffle:\n$aggPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("ensureBucketed skips the rebuild on unchanged sources, rebuilds on change") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Bucketing.resetBuiltStamps()
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val fp1 = Tables.meta(spark, s"$SF/nation.parquet").map(_.fingerprint)
    assert(fp1.isDefined, "test table must fingerprint")
    val before = Bucketing.ensureRebuilds.get()
    Bucketing.ensureBucketed(spark, df, "graft_ensure_spec", 4, Seq("k"), fp1)
    assert(Bucketing.ensureRebuilds.get() === before + 1, "first build runs")
    Bucketing.ensureBucketed(spark, df, "graft_ensure_spec", 4, Seq("k"), fp1)
    assert(Bucketing.ensureRebuilds.get() === before + 1,
      "unchanged fingerprint must not rebuild")
    assert(spark.table("graft_ensure_spec").count() === 2)
    // a changed source fingerprint rebuilds
    val fp2 = Tables.meta(spark, s"$SF/region.parquet").map(_.fingerprint)
    Bucketing.ensureBucketed(spark, df, "graft_ensure_spec", 4, Seq("k"), fp2)
    assert(Bucketing.ensureRebuilds.get() === before + 2,
      "changed fingerprint must rebuild")
    // no fingerprint (unreadable source) always rebuilds — safe direction
    Bucketing.ensureBucketed(spark, df, "graft_ensure_spec", 4, Seq("k"), None)
    Bucketing.ensureBucketed(spark, df, "graft_ensure_spec", 4, Seq("k"), None)
    assert(Bucketing.ensureRebuilds.get() === before + 4)
    spark.sql("DROP TABLE IF EXISTS graft_ensure_spec")
  }

  test("catalog q13 runs off bucketed sources with an exchange-free join") {
    import graft.operators.Relational
    // run the catalog query (writes the bucketed tables, then joins)
    val result = Relational.q13(spark, SF).collect()
    assert(result.nonEmpty)
    // the join the query planned: co-located bucket reads, no Exchange
    // on either side (disable broadcast so small sf tables can't
    // sidestep the bucketed path)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.coLocatedJoin(spark,
        Relational.liBucketTable, Relational.ordBucketTable, Seq("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"q13 join must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }
}
