package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.{Materialized, Tables}

/** Core relational operator surface, re-expressing the reference's
  * query semantics (SURVEY.md §2) over the TPC-H-ish test tables.
  *
  * The reference pipeline (reference: Data Transformation.py:50-175) is
  * built from: narrow selects, `when/otherwise` derived flags, equi
  * inner joins (including one deliberately date-less fanout join,
  * Data Transformation.py:50-51), hash aggregations at the
  * (week, store, product) grain, `row_number`-over-desc-date snapshot
  * windows (Data Transformation.py:71-82), group-by-measure
  * aggregation (Data Transformation.py:150-152), and an 8-way inner
  * join assembly (Data Transformation.py:156-164). Each of those
  * operators appears here as a named query with a DuckDB oracle.
  *
  * Numeric-parity rules (so Spark results hash-match the DuckDB
  * oracle): money math is done in exact DECIMAL and only cast to
  * DOUBLE at the end (double sums are order-dependent and local
  * shuffles are not); ratios are a single IEEE division of two
  * exactly-agreed numbers; every query output carries a total
  * deterministic ORDER BY.
  *
  * Scale notes (100 TB posture): every aggregation here is a partial
  * (map-side combine) hash aggregate; joins against dims are
  * broadcast; fact-fact joins shuffle on their join keys only after
  * filters/projections have been pushed to the parquet scan. No
  * collect(), no repartition(1).
  */
object Relational {

  /** Money columns arrive as doubles holding 2-decimal values; cast to
    * exact decimal before any arithmetic so sums are order-independent. */
  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dec4(c: Column): Column = c.cast(DecimalType(6, 4))

  /** Data-driven week number: days since 1995-01-01 / 7. The reference
    * takes `yr_wk_num` from its calendar dim (Data Ingestion.sql:74);
    * here the "calendar" is pure arithmetic so the DuckDB oracle can
    * reproduce it bit-for-bit. */
  private[graft] def wk(c: Column): Column =
    floor(datediff(to_date(c), lit("1995-01-01").cast("date")) / 7).cast("long")

  private[graft] def wkSql(col: String): String =
    // floor(x/7.0), NOT x // 7: DuckDB's // truncates toward zero while
    // Spark's wk() floors — they'd diverge for dates before the epoch
    s"CAST(floor(datediff('day', DATE '1995-01-01', CAST($col AS DATE)) / 7.0) AS BIGINT)"

  /** Exact revenue expression: extendedprice * (1 - discount) in decimal. */
  private def revenue(price: Column, discount: Column): Column =
    dec2(price) * (lit(1).cast(DecimalType(6, 4)) - dec4(discount))

  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))"
  // Oracle-side decimal→double conversions go through VARCHAR:
  // DuckDB's direct CAST(DECIMAL(38,6) AS DOUBLE) double-rounds
  // (int128 → double, then ÷10⁶), which at 100×-tier magnitudes
  // (sums ≥ ~1e11, where one double ULP exceeds the 10⁻⁶ decimal
  // grain) can land 1 ULP away from Spark's correctly-rounded
  // BigDecimal.toDouble — q13's sf10 oracle caught a live instance.
  // VARCHAR→DOUBLE is a correctly-rounded strtod on the exact decimal
  // digits, so both engines convert the identical exact sum once.

  // ---------------------------------------------------------------------
  // q01 — pricing summary: hash agg with exact decimal sums + ratio-of-sums
  // (reference metrics A1-A5, Data Transformation.py:62-66 compute
  // round(sum(...)) and a manual ratio average at the week grain).
  // ---------------------------------------------------------------------
  def q01(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    li.filter(to_date(col("l_shipdate")) <= lit("1998-09-02").cast("date"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(revenue(col("l_extendedprice"), col("l_discount"))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_price", col("sum_base_price") / col("count_order"))
      .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "avg_price", "count_order")
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  SUM(l_quantity) AS sum_qty,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
       |  CAST(CAST(SUM($revenueSql) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q02 — filter + narrow projection (reference P1/P5/P6,
  // Data Transformation.py:73,100,111). Predicates and the 5-column
  // ReadSchema must reach the parquet scan (verified in RelationalSpec).
  // ---------------------------------------------------------------------
  def q02(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    li.filter(to_date(col("l_shipdate")).between(
        lit("1997-01-01").cast("date"), lit("1997-03-31").cast("date"))
        && col("l_quantity") >= 45)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
  }

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-03-31'
      |  AND l_quantity >= 45
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q03 — star join: fact ⋈ orders ⋈ customer ⋈ nation ⋈ region
  // (reference J2-J4 star join, Data Transformation.py:50-54; dims are
  // broadcast — at 100 TB nation/region/customer-sized dims never shuffle
  // the fact side).
  // ---------------------------------------------------------------------
  def q03(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    val o  = Tables.load(spark, dir, "orders")
    val c  = Tables.load(spark, dir, "customer")
    val n  = Tables.load(spark, dir, "nation")
    val r  = Tables.load(spark, dir, "region")
    // r21 (guide §2.3 — aggregate before you shuffle): the fact is
    // partial-aggregated to order grain BEFORE the orders join, so the
    // fact-fact exchange carries one 3-column row per order instead of
    // every lineitem (~4× fewer rows, and the revenue arithmetic runs
    // map-side). Decimal sums re-associate exactly, so the final
    // revenue is bit-identical; n_rows = Σ per-order counts;
    // countDistinct(o_orderkey) is kept at the final aggregate (over
    // the now order-grain rows — its Expand is near-free here) so the
    // distinct semantics under any duplicate-key input is EXACTLY the
    // old plan's, not an assumption about key uniqueness.
    val liAgg = li.groupBy(col("l_orderkey"))
      .agg(sum(revenue(col("l_extendedprice"), col("l_discount"))).as("rev_o"),
        count(lit(1)).as("n_o"))
    liAgg.join(o, liAgg("l_orderkey") === o("o_orderkey"))
      // customer scales with SF — no forced broadcast (AQE still
      // broadcasts it when it is actually small); nation/region are
      // fixed-size dims, always broadcastable
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(col("rev_o")).cast("double").as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        sum(col("n_o")).as("n_rows"))
      .orderBy("r_name", "n_name")
  }

  val q03Sql: String =
    s"""SELECT r_name, n_name,
       |  CAST(CAST(SUM($revenueSql) AS VARCHAR) AS DOUBLE) AS revenue,
       |  COUNT(DISTINCT o_orderkey) AS n_orders,
       |  COUNT(*) AS n_rows
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q04 — end-of-week snapshot via row_number over desc date, keep rn=1
  // (reference W1/W2, Data Transformation.py:71-82). Tie-broken fully so
  // the window is deterministic (SURVEY §7.4 risk 3).
  //
  // r22 rewrite MEASURED AND REJECTED (guide §1/§7: measure, don't
  // assume): a max_by(struct(qty, dt), struct(dt, okey, line)) hash
  // aggregate is row-identical (the ordering triple embeds lineitem's
  // primary key, so the group maximum is the rn=1 row) and was expected
  // to beat the window by dropping the sorts — but a struct-typed
  // aggregation buffer is not UnsafeRow-mutable, so Spark planned
  // SortAggregate (sort by the 3 group keys on BOTH sides of the
  // exchange), while the window form already gets partial+final
  // WindowGroupLimit (plans/r22/q04_snapshot_window_before.txt), which
  // prunes to ~1 row/group before the shuffle just like a partial
  // aggregate. Measured sf0.1 3-rep: 1.97 s (max_by, ambient 1.12) vs
  // 1.75 s (window, quiet anchor) — no win, reverted to the window.
  // ---------------------------------------------------------------------
  def q04(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
      .withColumn("cal_dt", to_date(col("l_shipdate")))
      .withColumn("yr_wk_num", wk(col("l_shipdate")))
    val w = Window.partitionBy(col("yr_wk_num"), col("l_suppkey"), col("l_partkey"))
      .orderBy(col("cal_dt").desc, col("l_orderkey").desc, col("l_linenumber").desc)
    li.withColumn("row_num", row_number().over(w))
      .filter(col("row_num") === 1)
      .select(col("yr_wk_num"), col("l_suppkey").as("store_key"),
        col("l_partkey").as("prod_key"), col("l_quantity").as("qty_end_wk"),
        col("cal_dt").as("last_dt"))
      .orderBy("yr_wk_num", "store_key", "prod_key")
  }

  val q04Sql: String =
    s"""WITH t AS (
       |  SELECT ${wkSql("l_shipdate")} AS yr_wk_num, l_suppkey AS store_key,
       |    l_partkey AS prod_key, l_quantity, CAST(l_shipdate AS DATE) AS cal_dt,
       |    ROW_NUMBER() OVER (
       |      PARTITION BY ${wkSql("l_shipdate")}, l_suppkey, l_partkey
       |      ORDER BY CAST(l_shipdate AS DATE) DESC, l_orderkey DESC, l_linenumber DESC
       |    ) AS row_num
       |  FROM lineitem)
       |SELECT yr_wk_num, store_key, prod_key, l_quantity AS qty_end_wk, cal_dt AS last_dt
       |FROM t WHERE row_num = 1
       |ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------------
  // q05 — the reference's date-less fanout join, faithfully (J1,
  // Data Transformation.py:50-51: sales ⋈ inventory on (prod, store)
  // with NO date key, so each sales row matches every inventory day of
  // that pair). Inventory is derived as the daily per-(part, supplier)
  // stock aggregate.
  // ---------------------------------------------------------------------
  def q05(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    val inv = li.groupBy(col("l_partkey"), col("l_suppkey"),
        to_date(col("l_shipdate")).as("cal_dt"))
      .agg(sum(col("l_quantity")).as("on_hand"))
    val sales = li.select(col("l_partkey"), col("l_suppkey"),
      to_date(col("l_shipdate")).as("trans_dt"), col("l_quantity"))
    sales.join(inv, Seq("l_partkey", "l_suppkey")) // deliberately date-less
      .groupBy(wk(col("trans_dt")).as("yr_wk_num"),
        col("l_partkey").as("prod_key"), col("l_suppkey").as("store_key"))
      .agg(count(lit(1)).as("fanout_rows"),
        sum(col("l_quantity")).as("total_qty"),
        sum(col("on_hand")).as("total_on_hand"))
      .orderBy("yr_wk_num", "prod_key", "store_key")
  }

  val q05Sql: String =
    s"""WITH inv AS (
       |  SELECT l_partkey, l_suppkey, CAST(l_shipdate AS DATE) AS cal_dt,
       |    SUM(l_quantity) AS on_hand
       |  FROM lineitem GROUP BY 1, 2, 3),
       |sales AS (
       |  SELECT l_partkey, l_suppkey, CAST(l_shipdate AS DATE) AS trans_dt, l_quantity
       |  FROM lineitem)
       |SELECT ${wkSql("trans_dt")} AS yr_wk_num, s.l_partkey AS prod_key,
       |  s.l_suppkey AS store_key,
       |  COUNT(*) AS fanout_rows, SUM(s.l_quantity) AS total_qty,
       |  SUM(i.on_hand) AS total_on_hand
       |FROM sales s JOIN inv i
       |  ON s.l_partkey = i.l_partkey AND s.l_suppkey = i.l_suppkey
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------------
  // q06 — conditional aggregation (reference A8/A11 filter-then-count,
  // Data Transformation.py:110-112,141-145; idiomatic form is a single
  // pass with count(when(...))).
  // ---------------------------------------------------------------------
  def q06(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    li.groupBy(wk(col("l_shipdate")).as("yr_wk_num"))
      .agg(
        count(when(col("l_discount") > 0.05, lit(1))).as("high_disc_cnt"),
        count(when(col("l_returnflag") === "R", lit(1))).as("returned_cnt"),
        count(when(col("l_quantity") < 5, lit(1))).as("low_qty_cnt"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_extendedprice")).as("min_price"))
      .orderBy("yr_wk_num")
  }

  val q06Sql: String =
    s"""SELECT ${wkSql("l_shipdate")} AS yr_wk_num,
       |  CAST(count_if(l_discount > 0.05) AS BIGINT) AS high_disc_cnt,
       |  CAST(count_if(l_returnflag = 'R') AS BIGINT) AS returned_cnt,
       |  CAST(count_if(l_quantity < 5) AS BIGINT) AS low_qty_cnt,
       |  MAX(l_quantity) AS max_qty,
       |  MIN(l_extendedprice) AS min_price
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q07 — group-by-measure (reference A12 weeks_supply groups by the
  // inventory level itself, Data Transformation.py:150-152 — one output
  // row per distinct measure value per grain).
  // ---------------------------------------------------------------------
  def q07(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    li.groupBy(wk(col("l_shipdate")).as("yr_wk_num"),
        col("l_partkey").as("prod_key"), col("l_quantity").as("on_hand_qty"))
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("grp_qty"))
      .withColumn("weeks_supply", col("on_hand_qty") / col("grp_qty"))
      .select("yr_wk_num", "prod_key", "on_hand_qty", "n_rows", "weeks_supply")
      .orderBy("yr_wk_num", "prod_key", "on_hand_qty")
  }

  val q07Sql: String =
    s"""SELECT ${wkSql("l_shipdate")} AS yr_wk_num, l_partkey AS prod_key,
       |  l_quantity AS on_hand_qty, COUNT(*) AS n_rows,
       |  l_quantity / SUM(l_quantity) AS weeks_supply
       |FROM lineitem GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------------
  // q08 — multi-branch metric assembly: N independently aggregated
  // branches over one fact, chained back together with inner equi-joins
  // on the grain (reference J7, Data Transformation.py:156-164). The
  // branches share one shuffle-partitioning on the grain keys, so the
  // joins after the first are co-partitioned — no extra full shuffle.
  // ---------------------------------------------------------------------
  def q08(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
      .withColumn("yr_wk_num", wk(col("l_shipdate")))
    val keys = Seq("yr_wk_num", "prod_key")
    val base = li.select(col("yr_wk_num"), col("l_partkey").as("prod_key"),
      col("l_quantity"), col("l_extendedprice"),
      col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
      to_date(col("l_shipdate")).as("cal_dt"))
    val b1 = base.groupBy(keys.map(col): _*)
      .agg(sum(dec2(col("l_extendedprice"))).cast("double").as("total_sales_amt"),
        sum(col("l_quantity")).as("total_sales_qty"))
    val b2 = base.groupBy(keys.map(col): _*)
      .agg(count(when(col("l_returnflag") === "R", lit(1))).as("returned_cnt"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("cal_dt").desc, col("l_orderkey").desc, col("l_linenumber").desc)
    val b3 = base.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("yr_wk_num"), col("prod_key"), col("l_quantity").as("qty_end_wk"))
    b1.join(b2, keys).join(b3, keys)
      .select("yr_wk_num", "prod_key", "total_sales_amt", "total_sales_qty",
        "returned_cnt", "qty_end_wk")
      .orderBy("yr_wk_num", "prod_key")
  }

  val q08Sql: String =
    s"""WITH base AS (
       |  SELECT ${wkSql("l_shipdate")} AS yr_wk_num, l_partkey AS prod_key,
       |    l_quantity, l_extendedprice, l_returnflag, l_orderkey, l_linenumber,
       |    CAST(l_shipdate AS DATE) AS cal_dt
       |  FROM lineitem),
       |b1 AS (
       |  SELECT yr_wk_num, prod_key,
       |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_sales_amt,
       |    SUM(l_quantity) AS total_sales_qty
       |  FROM base GROUP BY 1, 2),
       |b2 AS (
       |  SELECT yr_wk_num, prod_key, CAST(count_if(l_returnflag = 'R') AS BIGINT) AS returned_cnt
       |  FROM base GROUP BY 1, 2),
       |b3 AS (
       |  SELECT yr_wk_num, prod_key, l_quantity AS qty_end_wk FROM (
       |    SELECT yr_wk_num, prod_key, l_quantity, ROW_NUMBER() OVER (
       |      PARTITION BY yr_wk_num, prod_key
       |      ORDER BY cal_dt DESC, l_orderkey DESC, l_linenumber DESC) AS rn
       |    FROM base) WHERE rn = 1)
       |SELECT b1.yr_wk_num, b1.prod_key, total_sales_amt, total_sales_qty,
       |  returned_cnt, qty_end_wk
       |FROM b1
       |JOIN b2 USING (yr_wk_num, prod_key)
       |JOIN b3 USING (yr_wk_num, prod_key)
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q09 — derived flag + filter (reference P7 low_stock_flg,
  // Data Transformation.py:100,133).
  // ---------------------------------------------------------------------
  def q09(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    li.withColumn("low_qty_flg", when(col("l_quantity") < 5, lit(1)).otherwise(lit(0)))
      .filter(col("low_qty_flg") === 1)
      .groupBy(col("l_partkey").as("prod_key"))
      .agg(count(lit(1)).as("low_qty_instances"))
      .orderBy("prod_key")
  }

  val q09Sql: String =
    """SELECT l_partkey AS prod_key, COUNT(*) AS low_qty_instances
      |FROM (SELECT l_partkey, CASE WHEN l_quantity < 5 THEN 1 ELSE 0 END AS low_qty_flg
      |      FROM lineitem)
      |WHERE low_qty_flg = 1
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q10 — global top-k with deterministic tie-break (extends the
  // reference's global orderBy, Data Transformation.py:67 etc., with the
  // limit it never used). Spark plans this as TakeOrderedAndProject —
  // per-partition top-k then a k-row merge, no global sort at scale.
  // ---------------------------------------------------------------------
  def q10(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    val o  = Tables.load(spark, dir, "orders")
    // Measured-and-rejected (r22, guide §1/§7): pre-aggregating revenue
    // to order grain BEFORE the join (the q03 move) benched 0.79× at
    // sf0.1 fresh-JVM and 1.00× at sf1. Unlike q03 — whose final
    // countDistinct BLOCKS partial aggregation — this groupBy has only
    // a re-associable sum, so Spark already plans a map-side partial
    // aggregate below the exchange (see
    // plans/r22/q10_top_revenue_before.txt: HashAggregate(partial)
    // under Exchange); the explicit pre-agg just added a second
    // hash-aggregate pass over the fact for the same exchanged rows.
    // Rejected plan kept at plans/r22/q10_top_revenue_rejected_preagg.txt.
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("order_dt"))
      .agg(sum(revenue(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(100)
  }

  val q10Sql: String =
    s"""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_dt,
       |  CAST(CAST(SUM($revenueSql) AS VARCHAR) AS DOUBLE) AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1, 2
       |ORDER BY revenue DESC, o_orderkey LIMIT 100""".stripMargin

  // ---------------------------------------------------------------------
  // q11 — hierarchical rollup (beyond the reference's flat groupBys:
  // subtotals per (flag, status), per flag, and grand total in ONE
  // pass — Spark expands grouping sets before a single hash aggregate,
  // instead of the 3 scans + union a per-level rewrite would cost).
  // ---------------------------------------------------------------------
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n_rows"),
        grouping(col("l_returnflag")).as("g_flag"),
        grouping(col("l_linestatus")).as("g_status"))
      .orderBy(col("g_flag"), col("g_status"), col("l_returnflag"), col("l_linestatus"))
  }

  val q11Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_rows,
      |  CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
      .stripMargin

  // ---------------------------------------------------------------------
  // q12 — exact quantiles per group (sort-based aggregation, absent
  // from the reference's sum/count-only surface). percentile() with
  // linear interpolation matches DuckDB's quantile_cont definition;
  // quantities are integral doubles so the interpolated values agree
  // bit-for-bit.
  // ---------------------------------------------------------------------
  def q12(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_quantity, 0.99)").as("p99_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy("l_returnflag")
  }

  val q12Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS p50_qty,
      |  quantile_cont(l_quantity, 0.9) AS p90_qty,
      |  quantile_cont(l_quantity, 0.99) AS p99_qty,
      |  MIN(l_quantity) AS min_qty,
      |  MAX(l_quantity) AS max_qty
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q13 — the bucketed-source fact-fact join: both sides written
  // bucketed by the join key (graft.sources.Bucketing), so the join
  // reads co-located bucket files and plans WITHOUT an exchange on
  // either side — the pay-the-shuffle-once trade for a 100 TB fact
  // joined more often than it is rewritten. The write runs inside the
  // query so the catalog entry is self-contained; a deployment does it
  // once at ingest. Results are physical-layout-independent, hence the
  // plain-SQL oracle; BucketingSpec asserts the exchange-free plan.
  // CONSTRAINT: the bucket table names are fixed globals, so two
  // concurrent q13 runs in one session would race (one drops the
  // warehouse dir while the other reads it). The bench/verify harness
  // is strictly serial; suffix the names per invocation before ever
  // running this concurrently.
  // ---------------------------------------------------------------------
  private[graft] val liBucketTable = "graft_q13_lineitem_bkt"
  private[graft] val ordBucketTable = "graft_q13_orders_bkt"

  def q13(spark: SparkSession, dir: String): DataFrame = {
    val (lineitem, liMeta) = Tables.loadWithMeta(spark, dir, "lineitem", balanced = true)
    val li = lineitem.select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val (orders, oMeta) = Tables.loadWithMeta(spark, dir, "orders", balanced = false)
    val o = orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
    // build-once-join-many: the bucket write runs only when the source
    // files changed since this JVM last built the tables (fingerprint
    // gate) — the at-rest shape bucketing exists for. The first
    // invocation per (JVM, source state) pays the one-time shuffle;
    // repeats measure the exchange-free join.
    graft.sources.Bucketing.ensureBucketed(spark, li, liBucketTable, 8, Seq("l_orderkey"),
      Some(liMeta.fingerprint))
    graft.sources.Bucketing.ensureBucketed(spark, o, ordBucketTable, 8, Seq("l_orderkey"),
      Some(oMeta.fingerprint))
    graft.sources.Bucketing
      .coLocatedJoin(spark, liBucketTable, ordBucketTable, Seq("l_orderkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(revenue(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
      .orderBy("o_year")
  }

  val q13Sql: String =
    s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       |  CAST(CAST(SUM($revenueSql) AS VARCHAR) AS DOUBLE) AS revenue,
       |  COUNT(*) AS n_rows
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q14 — pivot: per-source document counts spread across the (closed)
  // language domain. The values list is EXPLICIT, which matters twice:
  // it makes the output schema deterministic for the oracle, and it
  // lets Catalyst rewrite the pivot into ONE conditional-aggregation
  // pass — `pivot("lang")` without values first runs a separate
  // distinct job over the corpus to discover columns, an extra full
  // scan nobody should pay at 100 TB. Cells with no rows surface as
  // null from the pivot and are coalesced to 0 to match SQL's
  // conditional counts.
  // ---------------------------------------------------------------------
  private val langDomain = Seq("de", "en", "es", "fr", "zh")

  def q14(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = Tables.loadBalanced(spark, dir, "documents")
      .groupBy(col("source"))
      .pivot("lang", langDomain)
      .agg(count(lit(1)))
    pivoted.select(col("source") +:
        langDomain.map(l => coalesce(col(l), lit(0L)).as(s"n_$l")): _*)
      .orderBy("source")
  }

  val q14Sql: String = {
    val cells = langDomain
      .map(l => s"CAST(count(*) FILTER (WHERE lang = '$l') AS BIGINT) AS n_$l")
      .mkString(",\n  ")
    s"""SELECT source,
       |  $cells
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q15 — semi/anti joins: per-nation customer counts split by whether
  // the customer has any URGENT order. LeftSemi/LeftAnti are the
  // existence-test join types a SQL EXISTS / NOT EXISTS plans to —
  // they shuffle only the join key + payload actually needed, never
  // materialize the probe side's matches, and short-circuit per key.
  // The urgent-order filter pushes to the orders scan before either
  // join (PushedFilters-visible), so the build side is the filtered
  // key set, not the fact table. At scale Spark additionally injects a
  // runtime bloom filter on the semi-join key (InjectRuntimeFilter),
  // cutting the probe scan — semantics unchanged, which is why the
  // plain EXISTS oracle stays valid.
  // ---------------------------------------------------------------------
  def q15(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.loadBalanced(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val urgent = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val withUrgent = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_with_urgent"))
    val noUrgent = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_no_urgent"))
    c.groupBy("c_nationkey").agg(count(lit(1)).as("n_customers"))
      .join(withUrgent, Seq("c_nationkey"), "left")
      .join(noUrgent, Seq("c_nationkey"), "left")
      .select(col("c_nationkey"), col("n_customers"),
        coalesce(col("n_with_urgent"), lit(0L)).as("n_with_urgent"),
        coalesce(col("n_no_urgent"), lit(0L)).as("n_no_urgent"))
      .orderBy("c_nationkey")
  }

  val q15Sql: String =
    """SELECT c_nationkey, count(*) AS n_customers,
      |  CAST(count(*) FILTER (WHERE EXISTS (
      |    SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'))
      |    AS BIGINT) AS n_with_urgent,
      |  CAST(count(*) FILTER (WHERE NOT EXISTS (
      |    SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'))
      |    AS BIGINT) AS n_no_urgent
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q16 — salted fact-fact join under the oracle gate: the same
  // revenue-by-priority join a plain equi-join would compute, executed
  // through SkewJoin.saltedBy (deterministic line-number salt, factor
  // 4: lineitem rows spread across 4 sub-keys per order, orders
  // replicated ×4). Salting is the manual hot-key defense when AQE's
  // runtime skew split can't help; the salt never reaches the output,
  // so the result multiset — and hence this oracle — is exactly the
  // unsalted join's. Money sums are decimal-exact before the final
  // double cast, so aggregation order cannot perturb the hash.
  // ---------------------------------------------------------------------
  def q16(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    SkewJoin.saltedBy(li, o, Seq("l_orderkey"), factor = 4,
        saltSource = col("l_linenumber"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(revenue(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
      .orderBy("o_orderpriority")
  }

  val q16Sql: String =
    s"""SELECT o_orderpriority,
       |  CAST(CAST(SUM($revenueSql) AS VARCHAR) AS DOUBLE) AS revenue,
       |  COUNT(*) AS n_rows
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q17 — running window functions per key: the row_number / running-sum
  // / lag / lead family over a partitioned, ordered frame (customer
  // order history). The reference's only window is the snapshot top-1
  // (W1/W2); this exercises the full running-frame surface. Scale
  // shape: ONE shuffle on the partition key, then a per-partition sort
  // shared by all four window functions (same spec → one Window node);
  // the running sum stays in exact DECIMAL so partial ordering noise
  // cannot perturb it. The order key includes o_orderkey so the frame
  // is a total order (RANGE vs ROWS ambiguity cannot arise).
  // ---------------------------------------------------------------------
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.loadBalanced(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("odate"),
        dec2(col("o_totalprice")).as("price"))
    val w = Window.partitionBy("o_custkey").orderBy(col("odate"), col("o_orderkey"))
    o.withColumn("order_seq", row_number().over(w))
      .withColumn("running_spend", sum(col("price")).over(w).cast("double"))
      .withColumn("gap_days", datediff(col("odate"), lag(col("odate"), 1).over(w)))
      .withColumn("next_price", lead(col("price"), 1).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("price").cast("double").as("price"),
        col("order_seq"), col("running_spend"), col("gap_days"), col("next_price"))
      .orderBy("o_custkey", "order_seq")
  }

  val q17Sql: String =
    """WITH o AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate,
      |  CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders)
      |SELECT o_custkey, o_orderkey, CAST(price AS DOUBLE) AS price,
      |  CAST(row_number() OVER w AS INT) AS order_seq,
      |  CAST(sum(price) OVER w AS DOUBLE) AS running_spend,
      |  CAST(datediff('day', lag(odate) OVER w, odate) AS INT) AS gap_days,
      |  CAST(lead(price) OVER w AS DOUBLE) AS next_price
      |FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY odate, o_orderkey)
      |ORDER BY o_custkey, order_seq""".stripMargin

  // ---------------------------------------------------------------------
  // q18 — CUBE over (priority, order year): all four grouping levels in
  // one pass, extending q11's ROLLUP to the full cross-marginal lattice.
  // Spark plans cube as a single Expand + hash aggregate — each input
  // row is replicated once per grouping set, partial-aggregated
  // map-side, so the shuffle carries near-final group rows. At 100 TB
  // the 4× Expand replication is the cost to watch; with low-cardinality
  // grouping columns the map-side combine collapses it entirely.
  // ---------------------------------------------------------------------
  def q18(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.loadBalanced(spark, dir, "orders")
      .select(col("o_orderpriority"),
        year(to_date(col("o_orderdate"))).as("o_year"),
        dec2(col("o_totalprice")).as("price"))
    o.cube(col("o_orderpriority"), col("o_year"))
      .agg(sum(col("price")).cast("double").as("sum_price"),
        count(lit(1)).as("n_orders"),
        grouping(col("o_orderpriority")).as("g_pri"),
        grouping(col("o_year")).as("g_year"))
      .orderBy(col("g_pri"), col("g_year"), col("o_orderpriority"), col("o_year"))
  }

  val q18Sql: String =
    """SELECT o_orderpriority,
      |  CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_orders,
      |  CAST(GROUPING(o_orderpriority) AS TINYINT) AS g_pri,
      |  CAST(GROUPING(year(CAST(o_orderdate AS DATE))) AS TINYINT) AS g_year
      |FROM orders
      |GROUP BY CUBE (o_orderpriority, year(CAST(o_orderdate AS DATE)))
      |ORDER BY g_pri, g_year, o_orderpriority NULLS FIRST, o_year NULLS FIRST"""
      .stripMargin

  // ---------------------------------------------------------------------
  // q20 — explicit GROUPING SETS: the PARTIAL lattice ((priority),
  // (year)) — two independent marginal breakdowns in ONE pass, without
  // the cross cells cube would add or the hierarchy rollup imposes.
  // Same Expand + partial-aggregate machinery as q11/q18, but the
  // Expand factor is exactly the number of requested sets (2), the
  // minimum for the asked question — at 100 TB that halves the
  // replicated volume vs. a cube of the same columns.
  // ---------------------------------------------------------------------
  def q20(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.loadBalanced(spark, dir, "orders")
      .select(col("o_orderpriority"),
        year(to_date(col("o_orderdate"))).as("o_year"),
        dec2(col("o_totalprice")).as("price"))
    o.groupingSets(
        Seq(Seq(col("o_orderpriority")), Seq(col("o_year"))),
        col("o_orderpriority"), col("o_year"))
      .agg(sum(col("price")).cast("double").as("sum_price"),
        count(lit(1)).as("n_orders"),
        grouping(col("o_orderpriority")).as("g_pri"),
        grouping(col("o_year")).as("g_year"))
      .orderBy(col("g_pri"), col("g_year"), col("o_orderpriority"), col("o_year"))
  }

  val q20Sql: String =
    """SELECT o_orderpriority,
      |  CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_orders,
      |  CAST(GROUPING(o_orderpriority) AS TINYINT) AS g_pri,
      |  CAST(GROUPING(year(CAST(o_orderdate AS DATE))) AS TINYINT) AS g_year
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (year(CAST(o_orderdate AS DATE))))
      |ORDER BY g_pri, g_year, o_orderpriority NULLS FIRST, o_year NULLS FIRST"""
      .stripMargin

  // ---------------------------------------------------------------------
  // q21 — RANGE-frame window: per customer, spend and order count in
  // the TRAILING 30 DAYS of each order — the value-based frame family
  // (q17 covers the rows-based one). Semantically different from any
  // rows frame: the frame holds every row whose *date* is within the
  // band, however many that is, and all same-day ties enter together
  // regardless of their sort order — which is also why the result is
  // deterministic without a full tie-break in the ORDER BY.
  //
  // Scale shape: one shuffle on o_custkey + one in-partition sort, the
  // same cost as any window; Spark needs the ordering key to be
  // numeric for a non-literal range, so both engines order by the
  // integer day number (days since epoch), making the frame arithmetic
  // identical. The decimal running sum stays exact until the final
  // double cast.
  // ---------------------------------------------------------------------
  def q21(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.loadBalanced(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date")).as("dayno"),
        dec2(col("o_totalprice")).as("price"))
    val w = Window.partitionBy("o_custkey").orderBy("dayno").rangeBetween(-30, 0)
    o.withColumn("spend_30d", sum(col("price")).over(w).cast("double"))
      .withColumn("n_orders_30d", count(lit(1)).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("dayno"),
        col("price").cast("double").as("price"), col("spend_30d"), col("n_orders_30d"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val q21Sql: String =
    """WITH o AS (SELECT o_custkey, o_orderkey,
      |  CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS dayno,
      |  CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders)
      |SELECT o_custkey, o_orderkey, dayno, CAST(price AS DOUBLE) AS price,
      |  CAST(sum(price) OVER w AS DOUBLE) AS spend_30d,
      |  count(*) OVER w AS n_orders_30d
      |FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY dayno
      |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q22 — CDC snapshot diff (the MERGE/upsert primitive): compare the
  // current dimension snapshot against the incoming one and emit the
  // change set as I/U/D rows — what a warehouse MERGE INTO consumes,
  // and what SCD loaders (events_intervals builds Type-2 history from
  // exactly this) are fed by. The incoming snapshot is derived
  // deterministically from the current one (every 97th key deleted /
  // rebalanced / cloned to a new key) so the oracle can re-derive it;
  // production reads yesterday's and today's extracts.
  //
  // Scale shape: ONE full-outer sort-merge join on the dimension key —
  // both sides shuffle once on c_custkey (bucketed-at-rest snapshots
  // make it exchange-free); change detection is a null-safe column
  // compare on the joined row (production compares a stored row
  // digest, same plan shape). Unchanged rows — the overwhelming mass —
  // are filtered before the final sort.
  // ---------------------------------------------------------------------
  def q22(spark: SparkSession, dir: String): DataFrame = {
    // shared by the o-side of the full-outer join, `kept` and
    // `inserted`: one customer scan instead of three. In production
    // the two snapshots are distinct at-rest extracts and this derive
    // step does not exist.
    val old = Materialized(Tables.loadBalanced(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    val kept = old.filter(col("c_custkey") % 97 =!= 3)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 97 === 5, col("c_acctbal") + lit(10.0))
          .otherwise(col("c_acctbal")))
    val inserted = old.filter(col("c_custkey") % 97 === 7)
      .withColumn("c_custkey", col("c_custkey") + lit(10000000L))
    val newSnap = kept.unionByName(inserted)

    val o = old.select(col("c_custkey"), lit(true).as("in_old"),
      col("c_name").as("o_name"), col("c_nationkey").as("o_nk"),
      col("c_acctbal").as("old_acctbal"), col("c_mktsegment").as("o_seg"))
    val n = newSnap.select(col("c_custkey"), lit(true).as("in_new"),
      col("c_name").as("n_name"), col("c_nationkey").as("n_nk"),
      col("c_acctbal").as("new_acctbal"), col("c_mktsegment").as("n_seg"))
    o.join(n, Seq("c_custkey"), "full_outer")
      .withColumn("changed",
        !(col("o_name") <=> col("n_name")) || !(col("o_nk") <=> col("n_nk")) ||
          !(col("old_acctbal") <=> col("new_acctbal")) || !(col("o_seg") <=> col("n_seg")))
      .withColumn("op",
        when(col("in_old").isNull, lit("I"))
          .when(col("in_new").isNull, lit("D"))
          .when(col("changed"), lit("U")))
      .filter(col("op").isNotNull)
      .select("c_custkey", "op", "old_acctbal", "new_acctbal")
      .orderBy("c_custkey")
  }

  val q22Sql: String =
    """WITH old AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer),
      |new_snap AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    CASE WHEN c_custkey % 97 = 5 THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal,
      |    c_mktsegment
      |  FROM old WHERE c_custkey % 97 <> 3
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal, c_mktsegment
      |  FROM old WHERE c_custkey % 97 = 7),
      |j AS (
      |  SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
      |    o.c_custkey IS NOT NULL AS in_old, n.c_custkey IS NOT NULL AS in_new,
      |    o.c_acctbal AS old_acctbal, n.c_acctbal AS new_acctbal,
      |    (o.c_name IS DISTINCT FROM n.c_name
      |      OR o.c_nationkey IS DISTINCT FROM n.c_nationkey
      |      OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
      |      OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment) AS changed
      |  FROM old o FULL OUTER JOIN new_snap n ON o.c_custkey = n.c_custkey)
      |SELECT c_custkey,
      |  CASE WHEN NOT in_old THEN 'I' WHEN NOT in_new THEN 'D' ELSE 'U' END AS op,
      |  old_acctbal, new_acctbal
      |FROM j WHERE NOT in_old OR NOT in_new OR changed
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q25 — approximate quantiles: q12's percentiles re-computed with
  // approx_percentile (a mergeable rank sketch). Exact percentile()
  // buffers every group value — fine per group at test scale, a
  // sort-scale memory problem on a 100 TB fact; the sketch is the
  // scale path (bounded memory, partial-aggregable, mergeable across
  // executors), the same exact-vs-sketch pairing as
  // events_hll_distinct vs exact distinct. Approximate by construction
  // → rows-only driver check; the error bound against exact q12 is
  // asserted in RelationalSpec.
  // ---------------------------------------------------------------------
  // 2000 = guaranteed rank error <= 0.05% of each group, far tighter
  // than p50/p90/p99 monitoring needs, at 1.4x the speed of the
  // previous 10000 (measured sf0.1 min-of-3: 2.5 s at 1e4, 1.8 s at
  // 2e3, 1.3 s at 1e3, vs 0.7 s exact — the sketch's per-row update
  // constant dominates at any accuracy while groups fit in memory)
  private[graft] val approxAccuracy = 2000

  // r22 (guide §1.2 per-task work): ONE array-percentile sketch per
  // group instead of three scalar ones. Three approx_percentile calls
  // on the same column at the same accuracy each built and shuffled
  // their own identical QuantileSummaries (3× the per-row update work
  // and 3× the partial-aggregate buffer bytes — plan audit in
  // plans/r22/q25_approx_quantiles_before.txt shows the three
  // partial_approx_percentile buffers); the array form updates one
  // sketch and queries it at the three ranks, which is value-identical
  // because each scalar sketch saw exactly the same values in the same
  // order as the shared one.
  def q25(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        expr(s"approx_percentile(l_quantity, array(0.5D, 0.9D, 0.99D), $approxAccuracy)")
          .as("pq"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"),
        col("pq").getItem(0).as("p50_qty"),
        col("pq").getItem(1).as("p90_qty"),
        col("pq").getItem(2).as("p99_qty"),
        col("n_rows"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------------
  // q24 — ranking-distribution windows: decile (ntile), percent_rank
  // and cume_dist per market segment over account balance — the
  // customer-scoring family (every "top decile of customers" BI cut).
  // The ORDER BY carries a full tie-break (balance, then key), so
  // rank == row_number, ntile edges are deterministic, and both
  // engines compute identical (r-1)/(n-1) / r/n divisions of exact
  // integers. One shuffle on the partition key, one in-partition sort
  // — all three functions share the single Window node.
  // ---------------------------------------------------------------------
  def q24(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.loadBalanced(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    c.withColumn("decile", ntile(10).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy("c_mktsegment", "decile", "c_custkey")
  }

  val q24Sql: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal,
      |  CAST(ntile(10) OVER w AS INT) AS decile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_mktsegment, decile, c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // q23 — column-statistics collection (the ANALYZE TABLE analog): one
  // pass over the fact computing count / exact NDV / min / max for the
  // four numeric CBO-relevant columns, unpivoted to one row per
  // column. Spark plans the multi-distinct aggregate as a single
  // Expand + two-level hash aggregate — one scan, not one per column;
  // stats tables like this are what feed join-reorder and
  // broadcast-threshold decisions at 100 TB.
  //
  // At 100 TB, exact NDV on a high-cardinality column is a full
  // shuffle of every distinct value per column (the Expand multiplies
  // the scan 4×) — q26_column_stats_approx is this query's sketch
  // twin (HLL++-backed approx_count_distinct, one pass, NO Expand, no
  // distinct shuffle) and the variant a real ANALYZE would run; same
  // exact-vs-sketch pairing as q12/q25 quantiles and
  // events_hll_distinct.
  // ---------------------------------------------------------------------
  def q23(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    li.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("ndv_orderkey"),
        countDistinct(col("l_quantity")).as("ndv_quantity"),
        countDistinct(col("l_extendedprice")).as("ndv_extendedprice"),
        countDistinct(col("l_discount")).as("ndv_discount"),
        min(col("l_orderkey")).cast("double").as("min_orderkey"),
        max(col("l_orderkey")).cast("double").as("max_orderkey"),
        min(col("l_quantity")).cast("double").as("min_quantity"),
        max(col("l_quantity")).cast("double").as("max_quantity"),
        min(col("l_extendedprice")).cast("double").as("min_extendedprice"),
        max(col("l_extendedprice")).cast("double").as("max_extendedprice"),
        min(col("l_discount")).cast("double").as("min_discount"),
        max(col("l_discount")).cast("double").as("max_discount"))
      .select(col("n_rows"), expr(
        """stack(4,
          |  'l_orderkey', ndv_orderkey, min_orderkey, max_orderkey,
          |  'l_quantity', ndv_quantity, min_quantity, max_quantity,
          |  'l_extendedprice', ndv_extendedprice, min_extendedprice, max_extendedprice,
          |  'l_discount', ndv_discount, min_discount, max_discount)
          |AS (col_name, ndv, min_val, max_val)""".stripMargin))
      .select("col_name", "n_rows", "ndv", "min_val", "max_val")
      .orderBy("col_name")
  }

  // ---------------------------------------------------------------------
  // q26 — q23's sketch twin: approx_count_distinct (HyperLogLog++,
  // relative sd 2%) replaces the exact multi-distinct. The plan
  // difference is the whole point: q23's exact NDVs force an Expand
  // (4× the scanned rows) feeding a distinct-key shuffle per column,
  // while the HLL sketches fold into ONE ordinary partial/final hash
  // aggregate — bounded memory per executor, a few-KB sketch per
  // column crossing the wire, no distinct shuffle at all. That is the
  // only ANALYZE shape that survives a 100 TB fact with a
  // high-cardinality key. Approximate by construction → rows-only
  // driver check; RelationalSpec asserts each sketch NDV within 5× the
  // configured 2% rsd of q23's exact value (and min/max/count exact).
  // ---------------------------------------------------------------------
  // 2% relative sd: measured on this host at sf0.1, the HLL++ update
  // path costs 0.9 s at 5% rsd, 1.6 s at 2%, 4.4 s at 1% (the register
  // array grows 4× per halving) vs 1.7 s for the exact Expand plan —
  // 2% keeps the sketch at parity locally while the plan shape (no
  // Expand, no distinct shuffle) is what wins at 100 TB; CBO stats
  // don't need better than a few percent.
  private[graft] val ndvRsd = 0.02

  def q26(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    li.agg(
        count(lit(1)).as("n_rows"),
        approx_count_distinct(col("l_orderkey"), ndvRsd).as("ndv_orderkey"),
        approx_count_distinct(col("l_quantity"), ndvRsd).as("ndv_quantity"),
        approx_count_distinct(col("l_extendedprice"), ndvRsd).as("ndv_extendedprice"),
        approx_count_distinct(col("l_discount"), ndvRsd).as("ndv_discount"),
        min(col("l_orderkey")).cast("double").as("min_orderkey"),
        max(col("l_orderkey")).cast("double").as("max_orderkey"),
        min(col("l_quantity")).cast("double").as("min_quantity"),
        max(col("l_quantity")).cast("double").as("max_quantity"),
        min(col("l_extendedprice")).cast("double").as("min_extendedprice"),
        max(col("l_extendedprice")).cast("double").as("max_extendedprice"),
        min(col("l_discount")).cast("double").as("min_discount"),
        max(col("l_discount")).cast("double").as("max_discount"))
      .select(col("n_rows"), expr(
        """stack(4,
          |  'l_orderkey', ndv_orderkey, min_orderkey, max_orderkey,
          |  'l_quantity', ndv_quantity, min_quantity, max_quantity,
          |  'l_extendedprice', ndv_extendedprice, min_extendedprice, max_extendedprice,
          |  'l_discount', ndv_discount, min_discount, max_discount)
          |AS (col_name, ndv, min_val, max_val)""".stripMargin))
      .select("col_name", "n_rows", "ndv", "min_val", "max_val")
      .orderBy("col_name")
  }

  val q23Sql: String =
    """WITH a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv_ok,
      |    CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv_q,
      |    CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS ndv_ep,
      |    CAST(count(DISTINCT l_discount) AS BIGINT) AS ndv_d,
      |    CAST(min(l_orderkey) AS DOUBLE) AS min_ok, CAST(max(l_orderkey) AS DOUBLE) AS max_ok,
      |    CAST(min(l_quantity) AS DOUBLE) AS min_q, CAST(max(l_quantity) AS DOUBLE) AS max_q,
      |    CAST(min(l_extendedprice) AS DOUBLE) AS min_ep, CAST(max(l_extendedprice) AS DOUBLE) AS max_ep,
      |    CAST(min(l_discount) AS DOUBLE) AS min_d, CAST(max(l_discount) AS DOUBLE) AS max_d
      |  FROM lineitem)
      |SELECT 'l_discount' AS col_name, n_rows, ndv_d AS ndv, min_d AS min_val, max_d AS max_val FROM a
      |UNION ALL SELECT 'l_extendedprice', n_rows, ndv_ep, min_ep, max_ep FROM a
      |UNION ALL SELECT 'l_orderkey', n_rows, ndv_ok, min_ok, max_ok FROM a
      |UNION ALL SELECT 'l_quantity', n_rows, ndv_q, min_q, max_q FROM a
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q19 — set operations: customers segmented by order activity across
  // two years (both = retained, one-sided = churned/acquired). The
  // INTERSECT/EXCEPT algebra (still what the oracle SQL says) is
  // computed as ONE grouped aggregate: a customer's segment is a pure
  // function of the pair (∃ 1997 order, ∃ 1998 order), so
  // max(yr = 1997)/max(yr = 1998) flags per o_custkey classify every
  // row of all three set-op branches in a single pass —
  //   both      ⟺ in97 ∧ in98 (INTERSECT),
  //   1997_only ⟺ in97 ∧ ¬in98 (c97 EXCEPT c98),
  //   1998_only ⟺ ¬in97 ∧ in98 (c98 EXCEPT c97),
  // and the union of the three branches is exactly the distinct
  // custkeys with in97 ∨ in98, i.e. the filtered aggregate's output.
  // (r22, guide §2.4: the set-op form scanned orders twice and planned
  // two distinct aggregates + three semi/anti joins + three post-join
  // distincts — eight exchanges; this form is one scan, one map-side-
  // combined aggregate, one exchange, plus the output sort.) Scale
  // shape: the shuffle carries (custkey, two booleans) per map-side
  // group — strictly fewer bytes than either distinct side before.
  // ---------------------------------------------------------------------
  def q19(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.loadBalanced(spark, dir, "orders")
      .select(col("o_custkey"), year(to_date(col("o_orderdate"))).as("yr"))
    o.filter(col("yr") === 1997 || col("yr") === 1998)
      .groupBy(col("o_custkey"))
      .agg(max(col("yr") === 1997).as("in97"),
        max(col("yr") === 1998).as("in98"))
      .withColumn("segment",
        when(col("in97") && col("in98"), lit("both"))
          .when(col("in97"), lit("1997_only"))
          .otherwise(lit("1998_only")))
      .select("o_custkey", "segment")
      .orderBy("segment", "o_custkey")
  }

  val q19Sql: String =
    """WITH o AS (SELECT o_custkey, year(CAST(o_orderdate AS DATE)) AS yr FROM orders),
      |c97 AS (SELECT DISTINCT o_custkey FROM o WHERE yr = 1997),
      |c98 AS (SELECT DISTINCT o_custkey FROM o WHERE yr = 1998)
      |SELECT o_custkey, 'both' AS segment
      |  FROM (SELECT o_custkey FROM c97 INTERSECT SELECT o_custkey FROM c98)
      |UNION ALL
      |SELECT o_custkey, '1997_only' AS segment
      |  FROM (SELECT o_custkey FROM c97 EXCEPT SELECT o_custkey FROM c98)
      |UNION ALL
      |SELECT o_custkey, '1998_only' AS segment
      |  FROM (SELECT o_custkey FROM c98 EXCEPT SELECT o_custkey FROM c97)
      |ORDER BY segment, o_custkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"   -> (q01 _),
    "q02_filter_project"    -> (q02 _),
    "q03_star_join_revenue" -> (q03 _),
    "q04_snapshot_window"   -> (q04 _),
    "q05_fanout_join"       -> (q05 _),
    "q06_conditional_agg"   -> (q06 _),
    "q07_group_by_measure"  -> (q07 _),
    "q08_metric_assembly"   -> (q08 _),
    "q09_derived_flag"      -> (q09 _),
    "q10_top_revenue"       -> (q10 _),
    "q11_rollup"            -> (q11 _),
    "q12_quantiles"         -> (q12 _),
    "q13_bucketed_join"     -> (q13 _),
    "q14_pivot_counts"      -> (q14 _),
    "q15_semi_anti"         -> (q15 _),
    "q16_salted_join"       -> (q16 _),
    "q17_running_window"    -> (q17 _),
    "q18_cube"              -> (q18 _),
    "q19_set_ops"           -> (q19 _),
    "q20_grouping_sets"     -> (q20 _),
    "q21_range_window"      -> (q21 _),
    "q22_cdc_diff"          -> (q22 _),
    "q23_column_stats"      -> (q23 _),
    "q24_rank_distribution" -> (q24 _),
    // approximate by construction → deliberately NO oracle entry
    // (rows-only driver check; error bound vs exact q12 in spec)
    "q25_approx_quantiles"  -> (q25 _),
    "q26_column_stats_approx" -> (q26 _))

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary"   -> q01Sql,
    "q02_filter_project"    -> q02Sql,
    "q03_star_join_revenue" -> q03Sql,
    "q04_snapshot_window"   -> q04Sql,
    "q05_fanout_join"       -> q05Sql,
    "q06_conditional_agg"   -> q06Sql,
    "q07_group_by_measure"  -> q07Sql,
    "q08_metric_assembly"   -> q08Sql,
    "q09_derived_flag"      -> q09Sql,
    "q10_top_revenue"       -> q10Sql,
    "q11_rollup"            -> q11Sql,
    "q12_quantiles"         -> q12Sql,
    "q13_bucketed_join"     -> q13Sql,
    "q14_pivot_counts"      -> q14Sql,
    "q15_semi_anti"         -> q15Sql,
    "q16_salted_join"       -> q16Sql,
    "q17_running_window"    -> q17Sql,
    "q18_cube"              -> q18Sql,
    "q19_set_ops"           -> q19Sql,
    "q20_grouping_sets"     -> q20Sql,
    "q21_range_window"      -> q21Sql,
    "q22_cdc_diff"          -> q22Sql,
    "q23_column_stats"      -> q23Sql,
    "q24_rank_distribution" -> q24Sql)
}
