package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.{Materialized, Tables}

/** The reference's entire weekly-metrics pipeline (reference:
  * Data Transformation.py:50-181), re-expressed Spark-first over the
  * test star schema, in two modes:
  *
  *  - `retail_weekly_faithful` — reproduces the reference's semantics
  *    exactly, including its quirks: the date-less sales⋈inventory join
  *    that fans out within (product, store) (Data Transformation.py:50),
  *    `sum(out_of_stock_flg)/7` over the fanned-out relation (:94), the
  *    week-less t2 grouping (:117), the re-fanning inner join against
  *    the row-level low-stock frame (:132,:141), the group-by-measure
  *    weeks_supply (:150-152), and the 8-way inner-join assembly that
  *    silently drops grain groups missing from any branch (:156-164).
  *    One deliberate delta: the reference's `row_number` window (:71,:79)
  *    orders by `CAL_DT` alone, which is nondeterministic under ties;
  *    we add a full tie-break so results are stable (SURVEY §7.4).
  *    The dead window at :109-110 (adds a never-used column) is dropped.
  *
  *  - `retail_weekly_corrected` — the business intent (README.md:47-60)
  *    as daily pre-aggregations of BOTH facts + one co-partitioned
  *    date-matched join + a single weekly aggregation: no fanout, no
  *    duplicate metric branches, no groups dropped. The daily pre-aggs
  *    are the 100 TB move: they collapse each fact to (day, store,
  *    product) grain BEFORE the join and the weekly shuffle, and every
  *    weekly metric (incl. the end-of-week snapshots, via `max_by`)
  *    comes out of ONE hash aggregate instead of nine joins.
  *
  * Table mapping onto the test data: sales=lineitem (part→product,
  * supplier→store, shipdate→trans_dt), inventory=derived daily
  * per-(part, supplier) stock snapshot, calendar=derived date dim with
  * arithmetic week numbers, store=supplier, product=part.
  */
object RetailPipeline {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** The five retail tables of the reference schema
    * (Data Ingestion.sql:20-112), derived from the test star schema. */
  private[graft] def retailTables(spark: SparkSession, dir: String)
    : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    val sales = li.select(
      col("l_partkey").as("PROD_KEY"),
      col("l_suppkey").as("STORE_KEY"),
      to_date(col("l_shipdate")).as("TRANS_DT"),
      col("l_orderkey").as("TRANS_ID"),
      col("l_quantity").as("SALES_QTY"),
      dec2(col("l_extendedprice")).as("SALES_AMT"),
      (dec2(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(6, 4)) - col("l_discount").cast(DecimalType(6, 4))))
        .as("SALES_COST"))
    val inventory = li
      .groupBy(col("l_partkey").as("PROD_KEY"), col("l_suppkey").as("STORE_KEY"),
        to_date(col("l_shipdate")).as("CAL_DT"))
      .agg((sum(col("l_quantity")) * 2).as("INVENTORY_ON_HAND_QTY"),
        sum(col("l_quantity")).as("INVENTORY_ON_ORDER_QTY"),
        when(sum(col("l_quantity")) < 10, lit(1)).otherwise(lit(0)).as("OUT_OF_STOCK_FLG"))
    val calendar = li.select(to_date(col("l_shipdate")).as("CAL_DT")).distinct()
      .withColumn("YR_WK_NUM", Relational.wk(col("CAL_DT")))
    val store = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey").as("STORE_KEY"), col("s_name").as("STORE_DESC"))
    val product = Tables.load(spark, dir, "part")
      .select(col("p_partkey").as("PROD_KEY"), col("p_name").as("PROD_NAME"))
    (sales, inventory, calendar, store, product)
  }

  /** DuckDB emulation of Spark's `round(double, 2)`: Spark rounds the
    * double's SHORTEST decimal representation HALF_UP (Catalyst Round
    * goes through BigDecimal(Double.toString)); DuckDB's native round
    * works off the binary value and disagrees near .005 boundaries.
    * Round-tripping through VARCHAR reproduces the shortest repr. */
  private def sparkRound2Sql(x: String): String =
    s"CAST(ROUND(CAST(CAST(($x) AS VARCHAR) AS DECIMAL(38,20)), 2) AS DOUBLE)"

  private val retailSqlCtes: String =
    s"""sales AS (
       |  SELECT l_partkey AS prod_key, l_suppkey AS store_key,
       |    CAST(l_shipdate AS DATE) AS trans_dt, l_orderkey AS trans_id,
       |    l_quantity AS sales_qty,
       |    CAST(l_extendedprice AS DECIMAL(18,2)) AS sales_amt,
       |    CAST(l_extendedprice AS DECIMAL(18,2)) *
       |      (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) AS sales_cost
       |  FROM lineitem),
       |inventory AS (
       |  SELECT l_partkey AS prod_key, l_suppkey AS store_key,
       |    CAST(l_shipdate AS DATE) AS cal_dt,
       |    SUM(l_quantity) * 2 AS inventory_on_hand_qty,
       |    SUM(l_quantity) AS inventory_on_order_qty,
       |    CASE WHEN SUM(l_quantity) < 10 THEN 1 ELSE 0 END AS out_of_stock_flg
       |  FROM lineitem GROUP BY 1, 2, 3),
       |calendar AS (
       |  SELECT DISTINCT CAST(l_shipdate AS DATE) AS cal_dt,
       |    ${Relational.wkSql("l_shipdate")} AS yr_wk_num
       |  FROM lineitem)""".stripMargin

  // ---------------------------------------------------------------------
  // Faithful mode
  // ---------------------------------------------------------------------
  def faithful(spark: SparkSession, dir: String): DataFrame = {
    val (sales, inventory, calendar, store, product) = retailTables(spark, dir)
    buildFaithful(sales, inventory, calendar, store, product)
  }

  /** Core faithful-mode builder over the five reference-schema frames
    * (uppercase reference column names). Factored out of the test-data
    * wrapper so the CLI app (graft.app.RetailEtlApp) can run it over
    * real CSV inputs and unit tests over hand-built fixtures.
    *
    * Measured-and-rejected (r21): an algebraic decomposition that never
    * materializes the date-less fanout (every metric over merged =
    * sales x inventory decomposes over the cross-product group
    * structure; the one cross term count(on_hand < qty) comes from the
    * two sides' value histograms). Output-identical — it passed the
    * DuckDB fanout oracle at sf0.001/0.01/0.1 and a row-for-row spec
    * against this plan — but SLOWER where it counts: 127 s min vs this
    * plan's 73 s at sf10 (and 144 GB vs ~80 GB task mem-spill), because
    * the test corpus's per-(prod, store) fanout multiplicity is ~1.02x,
    * so the decomposition's two-level histogram aggregation
    * (ObjectHashAggregate collect_list at a ~60M-group near-distinct
    * grain) costs far more than the fanout it avoids. The rewrite only
    * wins when |sales|x|inventory| per pair is large; on this data the
    * fanout IS the cheap plan. See OPTIMIZATION_r21.md.
    */
  def buildFaithful(sales: DataFrame, inventory: DataFrame,
      calendar: DataFrame, store: DataFrame, product: DataFrame): DataFrame = {
    val keys = Seq("YR_WK_NUM", "STORE_KEY", "PROD_KEY")

    // J1 (date-less, fans out) + J2 (calendar) + J3/J4 (broadcast dims) —
    // Data Transformation.py:50-54. Shared by the three aggregation
    // paths (the reference recomputes its equivalent per branch —
    // SURVEY §4 flags the cache as the single biggest win; measured 2×
    // at sf0.1 even after the branch-merging below).
    // The dim joins affect ROWS only (inner-join filtering) — the
    // reference never selects a store/product column downstream
    // (SURVEY §1.3: "pure column-pruning fodder") — so the cache holds
    // just the eleven columns the aggregates read, not the full
    // ~50-column join product.
    // No join-strategy hint here: an earlier shuffle_hash hint OOM'd at
    // the 100× tier (SparkOutOfMemoryError building the per-partition
    // hash map — inventory is daily-grain but the join key is date-LESS,
    // so the build side grows linearly with data while the partition
    // count stays fixed). Sort-merge spills; a pinned hash build cannot.
    // AQE still downgrades to a hash join when the build side is small.
    val merged = Materialized(sales
      .join(inventory.withColumnRenamed("CAL_DT", "INVENTORY_CAL_DT"),
        Seq("PROD_KEY", "STORE_KEY"))
      .join(calendar, col("TRANS_DT") === calendar("CAL_DT"))
      .join(broadcast(store), Seq("STORE_KEY"))
      .join(broadcast(product), Seq("PROD_KEY"))
      .select(col("YR_WK_NUM"), col("STORE_KEY"), col("PROD_KEY"),
        col("SALES_AMT"), col("SALES_QTY"), col("SALES_COST"),
        col("OUT_OF_STOCK_FLG"), col("INVENTORY_ON_HAND_QTY"),
        col("INVENTORY_ON_ORDER_QTY"), col("CAL_DT"), col("INVENTORY_CAL_DT"))
      // Spread the cache on (key, DATE), not the join's (key) layout:
      // the fanout join leaves merged hash-partitioned by (PROD_KEY,
      // STORE_KEY), which SATISFIES every downstream grouping — so
      // without this exchange a hot (product, store) cell (one
      // flagship store × staple product can be 2% of a retail fact)
      // pins its entire fanned-out output in ONE cache partition that
      // each of the three aggregation paths then consumes serially.
      // Adding CAL_DT to the distribution bounds partition size under
      // ANY key skew (a cell spreads over its dates); the downstream
      // aggs pay a partial/final split instead of zero exchanges, a
      // ~5% cost on uniform data vs an unbounded straggler under skew
      // (measured 96 s → 8 s on the planted-skew bench, BASELINE.md).
      .repartition(col("PROD_KEY"), col("STORE_KEY"), col("CAL_DT")))

    // The reference computes 9 separate branches over `merged` (A1-A4
    // at :62-66, A5 at :87-89, A6 at :93-96, m at :109-112, the two
    // re-fanout joins at :132-145) and glues them with an 8-way join
    // (:156-164). All of the grain-level branches are one hash
    // aggregate, and the two re-fanout joins reduce algebraically:
    // the pair relation merged ⋈ lowStock repeats every merged row of
    // a grain group once per low-stock row of that group, so
    //   A10 potential = round(f·Σqty − f·Σon_hand, 2)   (ls filtered to flag=1)
    //   A11 no_stock  = oos_cnt · n                     (ls side UNfiltered)
    // with f = low-stock row count, n = group row count, oos_cnt =
    // out-of-stock row count —
    // identical values (the test quantities are integral, so the
    // double sums are exact in any order) with no O(n²) join. The
    // inner-join drops of J7 (groups lacking m or potential rows)
    // become the equivalent filter oos_cnt > 0 AND f > 0.
    val big = merged.groupBy(keys.map(col): _*).agg(
      round(sum(col("SALES_AMT")), 2).as("total_sales_amt"),
      round(sum(col("SALES_QTY")), 2).as("total_sales_qty"),
      round(sum(col("SALES_AMT")).cast("double") / sum(col("SALES_QTY")), 2)
        .as("avg_sales_amt"),
      round(sum(col("SALES_COST")), 2).as("total_sales_cost"),
      round(sum(col("SALES_COST")), 2).as("total_cost_week"), // A5 ≡ A4, kept
      round(sum(col("OUT_OF_STOCK_FLG")) / 7, 2).as("out_of_stock_count"),
      count(when(col("OUT_OF_STOCK_FLG") === 1, lit(1))).as("oos_cnt_m"),
      count(when(col("INVENTORY_ON_HAND_QTY") < col("SALES_QTY"), lit(1))).as("f_cnt"),
      count(lit(1)).as("n_cnt"),
      sum(col("SALES_QTY")).as("qty_sum"),
      sum(col("INVENTORY_ON_HAND_QTY")).as("onhand_sum"),
      // W1/W2 (:71-82): the reference runs two identical row_number
      // windows over merged and joins both back; on tie-free data the
      // top-1 by (CAL_DT desc, INVENTORY_CAL_DT desc) is exactly
      // max_by over the same key pair — folded into this aggregate,
      // saving a full window pass over merged plus a join.
      max_by(
        struct(col("INVENTORY_ON_HAND_QTY").as("h"),
          col("INVENTORY_ON_ORDER_QTY").as("o")),
        struct(col("CAL_DT"), col("INVENTORY_CAL_DT"))).as("snap"))

    // subquery t2 (:117) — week-less on purpose: counts ALL rows of the
    // pair across all weeks, exactly as the reference does.
    val t2 = merged.groupBy(col("STORE_KEY"), col("PROD_KEY"))
      .agg(count(lit(1)).as("low_stock_count"))

    // A12 (:150-152) — grouping key includes the measure itself.
    val weeksSupply = merged
      .groupBy(col("YR_WK_NUM"), col("STORE_KEY"), col("PROD_KEY"),
        col("INVENTORY_ON_HAND_QTY"))
      .agg(round(col("INVENTORY_ON_HAND_QTY") / sum(col("SALES_QTY")), 2)
        .as("weeks_supply"))
      .select(col("YR_WK_NUM"), col("STORE_KEY"), col("PROD_KEY"), col("weeks_supply"))

    // Assembly (reference J7, :156-175) — 2 joins instead of 8.
    big
      .withColumn("INVENTORY_ON_HAND_QTY_END_WK", col("snap.h"))
      .withColumn("INVENTORY_ON_ORDER_QTY_END_WK", col("snap.o"))
      .join(t2, Seq("STORE_KEY", "PROD_KEY"))
      .join(weeksSupply, keys)
      .filter(col("oos_cnt_m") > 0 && col("f_cnt") > 0)
      .withColumn("total_low_stock_impact", col("oos_cnt_m") + col("low_stock_count"))
      .withColumn("potential_low_stock_impact",
        round(col("f_cnt") * col("qty_sum") - col("f_cnt") * col("onhand_sum"), 2))
      .withColumn("no_stock_instances", col("oos_cnt_m") * col("n_cnt"))
      .select(
        col("YR_WK_NUM").as("yr_wk_num"),
        col("STORE_KEY").as("store_key"),
        col("PROD_KEY").as("prod_key"),
        col("total_sales_amt").cast("double").as("total_sales_amt"),
        col("total_sales_qty").as("total_sales_qty"),
        col("avg_sales_amt").as("avg_sales_amt"),
        col("total_sales_cost").cast("double").as("total_sales_cost"),
        col("INVENTORY_ON_HAND_QTY_END_WK").as("inventory_on_hand_qty_end_wk"),
        col("INVENTORY_ON_ORDER_QTY_END_WK").as("inventory_on_order_qty_end_wk"),
        col("total_cost_week").cast("double").as("total_cost_week"),
        col("out_of_stock_count").as("out_of_stock_count"),
        col("total_low_stock_impact").as("total_low_stock_impact"),
        col("potential_low_stock_impact").as("potential_low_stock_impact"),
        col("no_stock_instances").as("no_stock_instances"),
        col("weeks_supply").as("weeks_supply"))
      .orderBy(col("yr_wk_num"), col("store_key"), col("prod_key"), col("weeks_supply"))
  }

  val faithfulSql: String =
    s"""WITH $retailSqlCtes,
       |merged AS (
       |  SELECT s.prod_key, s.store_key, s.trans_dt, s.trans_id, s.sales_qty,
       |    s.sales_amt, s.sales_cost,
       |    i.cal_dt AS inventory_cal_dt, i.inventory_on_hand_qty,
       |    i.inventory_on_order_qty, i.out_of_stock_flg,
       |    c.cal_dt, c.yr_wk_num
       |  FROM sales s
       |  JOIN inventory i ON s.prod_key = i.prod_key AND s.store_key = i.store_key
       |  JOIN calendar c ON s.trans_dt = c.cal_dt
       |  JOIN supplier ON s.store_key = s_suppkey
       |  JOIN part ON s.prod_key = p_partkey),
       |dfsum AS (
       |  SELECT yr_wk_num, store_key, prod_key,
       |    ROUND(SUM(sales_amt), 2) AS total_sales_amt,
       |    ROUND(SUM(sales_qty), 2) AS total_sales_qty,
       |    ${sparkRound2Sql("CAST(SUM(sales_amt) AS DOUBLE) / SUM(sales_qty)")} AS avg_sales_amt,
       |    ROUND(SUM(sales_cost), 2) AS total_sales_cost
       |  FROM merged GROUP BY 1, 2, 3),
       |ranked AS (
       |  SELECT yr_wk_num, store_key, prod_key, inventory_on_hand_qty,
       |    inventory_on_order_qty,
       |    ROW_NUMBER() OVER (PARTITION BY yr_wk_num, store_key, prod_key
       |      ORDER BY cal_dt DESC, inventory_cal_dt DESC) AS row_num
       |  FROM merged),
       |stock_level AS (
       |  SELECT yr_wk_num, store_key, prod_key,
       |    inventory_on_hand_qty AS inventory_on_hand_qty_end_wk
       |  FROM ranked WHERE row_num = 1),
       |stock_order AS (
       |  SELECT yr_wk_num, store_key, prod_key,
       |    inventory_on_order_qty AS inventory_on_order_qty_end_wk
       |  FROM ranked WHERE row_num = 1),
       |sumcost AS (
       |  SELECT yr_wk_num, store_key, prod_key,
       |    ROUND(SUM(sales_cost), 2) AS total_cost_week
       |  FROM merged GROUP BY 1, 2, 3),
       |oos AS (
       |  SELECT yr_wk_num, store_key, prod_key,
       |    ${sparkRound2Sql("SUM(out_of_stock_flg) / 7")} AS out_of_stock_count
       |  FROM merged GROUP BY 1, 2, 3),
       |lowstock AS (
       |  SELECT yr_wk_num, store_key, prod_key,
       |    CASE WHEN inventory_on_hand_qty < sales_qty THEN 1 ELSE 0 END AS low_stock_flg
       |  FROM merged),
       |m AS (
       |  SELECT yr_wk_num, store_key, prod_key,
       |    COUNT(out_of_stock_flg) AS oos_cnt_m
       |  FROM merged WHERE out_of_stock_flg = 1 GROUP BY 1, 2, 3),
       |t2 AS (
       |  SELECT store_key, prod_key, COUNT(low_stock_flg) AS low_stock_count
       |  FROM lowstock GROUP BY 1, 2),
       |impact AS (
       |  SELECT m.yr_wk_num, m.store_key, m.prod_key,
       |    m.oos_cnt_m + t2.low_stock_count AS total_low_stock_impact
       |  FROM m JOIN t2 ON m.store_key = t2.store_key AND m.prod_key = t2.prod_key),
       |potential AS (
       |  SELECT mg.yr_wk_num, mg.store_key, mg.prod_key,
       |    ROUND(SUM(mg.sales_qty) - SUM(mg.inventory_on_hand_qty), 2)
       |      AS potential_low_stock_impact
       |  FROM merged mg JOIN lowstock ls
       |    ON mg.yr_wk_num = ls.yr_wk_num AND mg.store_key = ls.store_key
       |    AND mg.prod_key = ls.prod_key
       |  WHERE ls.low_stock_flg = 1 GROUP BY 1, 2, 3),
       |nostock AS (
       |  SELECT mg.yr_wk_num, mg.store_key, mg.prod_key,
       |    COUNT(*) AS no_stock_instances
       |  FROM merged mg JOIN lowstock ls
       |    ON mg.yr_wk_num = ls.yr_wk_num AND mg.store_key = ls.store_key
       |    AND mg.prod_key = ls.prod_key
       |  WHERE mg.out_of_stock_flg = 1 GROUP BY 1, 2, 3),
       |weekssupply AS (
       |  SELECT yr_wk_num, store_key, prod_key,
       |    ${sparkRound2Sql("inventory_on_hand_qty / SUM(sales_qty)")} AS weeks_supply
       |  FROM merged GROUP BY yr_wk_num, store_key, prod_key, inventory_on_hand_qty)
       |SELECT dfsum.yr_wk_num, dfsum.store_key, dfsum.prod_key,
       |  CAST(total_sales_amt AS DOUBLE) AS total_sales_amt,
       |  total_sales_qty, avg_sales_amt,
       |  CAST(total_sales_cost AS DOUBLE) AS total_sales_cost,
       |  inventory_on_hand_qty_end_wk, inventory_on_order_qty_end_wk,
       |  CAST(total_cost_week AS DOUBLE) AS total_cost_week,
       |  out_of_stock_count, total_low_stock_impact,
       |  potential_low_stock_impact, no_stock_instances, weeks_supply
       |FROM dfsum
       |JOIN stock_level USING (yr_wk_num, store_key, prod_key)
       |JOIN stock_order USING (yr_wk_num, store_key, prod_key)
       |JOIN sumcost     USING (yr_wk_num, store_key, prod_key)
       |JOIN oos         USING (yr_wk_num, store_key, prod_key)
       |JOIN impact      USING (yr_wk_num, store_key, prod_key)
       |JOIN potential   USING (yr_wk_num, store_key, prod_key)
       |JOIN nostock     USING (yr_wk_num, store_key, prod_key)
       |JOIN weekssupply USING (yr_wk_num, store_key, prod_key)
       |ORDER BY 1, 2, 3, weeks_supply""".stripMargin

  // ---------------------------------------------------------------------
  // Corrected mode — the intent of README.md:47-60 in one pass.
  // ---------------------------------------------------------------------
  def corrected(spark: SparkSession, dir: String): DataFrame = {
    // Specialized composition of retailTables ∘ buildCorrected (r21,
    // guide §8 "use what you know the optimizer does not"): the test
    // schema derives BOTH facts from the same lineitem scan, so
    // buildCorrected's dailySales ⋈ dailyInv is an identity join —
    // both sides group the SAME rows by the SAME (prod, store, day)
    // key, the key sets are equal by construction, and every
    // inventory metric is a pure function of the day's quantity sum
    // (on_hand = 2·Σqty, on_order = Σqty, oos = Σqty < 10;
    // dailyInv's max() over the already-unique grain is the identity).
    // One aggregate therefore computes the whole daily frame: ONE
    // lineitem scan and ONE shuffle instead of two scans, two
    // shuffles and a sort-merge join (the join was this query's
    // 78.7 GB mem-spill at sf10). Value- and type-exact vs the
    // generic path — sums/types are identical expressions; proven by
    // the unchanged DuckDB oracle hash and a spec pinning
    // corrected() ≡ buildCorrected(retailTables). The equivalence
    // additionally ASSUMES non-null join keys (l_partkey / l_suppkey /
    // l_shipdate): the generic path's inner join on (prod_key,
    // store_key, cal_dt) drops null-key daily rows (null != null)
    // where this single aggregate keeps them as their own group. The
    // test schema declares all three NOT NULL and TPC-H data has no
    // nulls, so the paths agree on every shipped input; a real
    // two-table deployment with nullable keys must use buildCorrected.
    // The generic buildCorrected below stays the real-two-table path
    // for the app.
    val li = Tables.loadBalanced(spark, dir, "lineitem")
    val daily = li
      .groupBy(col("l_partkey").as("prod_key"), col("l_suppkey").as("store_key"),
        to_date(col("l_shipdate")).as("cal_dt"))
      .agg(
        sum(col("l_quantity")).as("day_qty"),
        sum(dec2(col("l_extendedprice"))).as("day_amt"),
        sum(dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(6, 4)) - col("l_discount").cast(DecimalType(6, 4))))
          .as("day_cost"))
      .withColumn("on_hand", col("day_qty") * 2)
      .withColumn("on_order", col("day_qty"))
      .withColumn("oos_flg", when(col("day_qty") < 10, lit(1)).otherwise(lit(0)))
    weeklyFromDaily(daily, None)
  }

  /** Core corrected-mode builder (see [[buildFaithful]] for why it is
    * factored out). Dims contribute no metric columns; the week comes
    * from the calendar dim when one is supplied (the reference's week
    * is data-driven — Data Ingestion.sql:74, SURVEY §7.4), else from
    * days-since-epoch arithmetic (the test-data convention). */
  def buildCorrected(sales: DataFrame, inventory: DataFrame,
      calendarOpt: Option[DataFrame] = None): DataFrame = {
    // Collapse BOTH sides to daily grain BEFORE the date-matched join
    // (fixing the J1 landmine twice over: no transaction×snapshot
    // fanout even if inventory ever carried duplicate grain rows). At
    // 100 TB this is the shuffle-size lever: the join and everything
    // after it run over (days × store × product) rows, not raw
    // transactions — aggregate-before-join shrinks the join's shuffle
    // by the per-day transaction multiplicity.
    val dailySales = sales
      .groupBy(col("PROD_KEY").as("prod_key"), col("STORE_KEY").as("store_key"),
        col("TRANS_DT").as("cal_dt"))
      .agg(
        sum(col("SALES_QTY")).as("day_qty"),
        sum(col("SALES_AMT")).as("day_amt"),
        sum(col("SALES_COST")).as("day_cost"))
    val dailyInv = inventory
      .groupBy(col("PROD_KEY").as("prod_key"), col("STORE_KEY").as("store_key"),
        col("CAL_DT").as("cal_dt"))
      .agg(
        max(col("INVENTORY_ON_HAND_QTY")).as("on_hand"),
        max(col("INVENTORY_ON_ORDER_QTY")).as("on_order"),
        max(col("OUT_OF_STOCK_FLG")).as("oos_flg"))
    // Both aggregates hash-partition on the same three keys, so this
    // join is co-partitioned — no additional shuffle. No join-strategy
    // hint: a shuffle_hash hint here (rationale: daily-grain sides are
    // small per partition, sort-merge's sorts buy nothing) held to sf1
    // but OOM'd at the 100× tier — "small per partition" is rows ÷
    // shuffle partitions, and a hint pins the non-spilling build even
    // when that quotient grows 100×. Sort-merge spills gracefully and
    // AQE still converts to a hash join when a side is actually small.
    val daily = dailySales.join(dailyInv,
      Seq("prod_key", "store_key", "cal_dt"))
    weeklyFromDaily(daily, calendarOpt)
  }

  /** Weekly rollup over the joined daily frame (prod_key, store_key,
    * cal_dt, day_qty, day_amt, day_cost, on_hand, on_order, oos_flg) —
    * shared by the generic two-table path above and the fused
    * single-scan daily frame in [[corrected]]. */
  private def weeklyFromDaily(daily: DataFrame,
      calendarOpt: Option[DataFrame]): DataFrame = {
    // Week assignment: broadcast-join the (tiny) calendar dim if given,
    // else pure arithmetic — either way no extra shuffle before the
    // weekly aggregate.
    val weekly = calendarOpt match {
      case Some(cal) =>
        daily.join(
          broadcast(cal.select(col("CAL_DT").as("cal_dt"),
            col("YR_WK_NUM").as("wk_of_day"))),
          Seq("cal_dt"))
      case None =>
        daily.withColumn("wk_of_day", Relational.wk(col("cal_dt")))
    }

    weekly
      .groupBy(col("wk_of_day").as("yr_wk_num"),
        col("store_key"), col("prod_key"))
      .agg(
        sum(col("day_amt")).cast("double").as("total_sales_amt"),
        sum(col("day_qty")).as("total_sales_qty"),
        (sum(col("day_amt")).cast("double") / sum(col("day_qty"))).as("avg_sales_amt"),
        sum(col("day_cost")).cast("double").as("total_sales_cost"),
        max_by(col("on_hand"), col("cal_dt")).as("inventory_on_hand_qty_end_wk"),
        max_by(col("on_order"), col("cal_dt")).as("inventory_on_order_qty_end_wk"),
        count(lit(1)).as("days_active"),
        count(when(col("oos_flg") === 1, lit(1))).as("out_of_stock_days"),
        count(when(col("on_hand") < col("day_qty"), lit(1))).as("low_stock_days"),
        (count(when(col("oos_flg") === 1, lit(1))) / lit(7.0)).as("out_of_stock_ratio"),
        sum(when(col("on_hand") < col("day_qty"), col("day_qty") - col("on_hand"))
          .otherwise(lit(0))).as("potential_low_stock_impact"))
      .withColumn("weeks_supply",
        col("inventory_on_hand_qty_end_wk") / col("total_sales_qty"))
      .orderBy(col("yr_wk_num"), col("store_key"), col("prod_key"))
  }

  val correctedSql: String =
    s"""WITH $retailSqlCtes,
       |daily_sales AS (
       |  SELECT prod_key, store_key, trans_dt AS cal_dt,
       |    SUM(sales_qty) AS day_qty,
       |    SUM(sales_amt) AS day_amt,
       |    SUM(sales_cost) AS day_cost
       |  FROM sales GROUP BY 1, 2, 3),
       |daily_inv AS (
       |  SELECT prod_key, store_key, cal_dt,
       |    MAX(inventory_on_hand_qty) AS on_hand,
       |    MAX(inventory_on_order_qty) AS on_order,
       |    MAX(out_of_stock_flg) AS oos_flg
       |  FROM inventory GROUP BY 1, 2, 3),
       |daily AS (
       |  SELECT * FROM daily_sales
       |  JOIN daily_inv USING (prod_key, store_key, cal_dt))
       |SELECT ${Relational.wkSql("cal_dt")} AS yr_wk_num, store_key, prod_key,
       |  CAST(SUM(day_amt) AS DOUBLE) AS total_sales_amt,
       |  SUM(day_qty) AS total_sales_qty,
       |  CAST(SUM(day_amt) AS DOUBLE) / SUM(day_qty) AS avg_sales_amt,
       |  CAST(SUM(day_cost) AS DOUBLE) AS total_sales_cost,
       |  arg_max(on_hand, cal_dt) AS inventory_on_hand_qty_end_wk,
       |  arg_max(on_order, cal_dt) AS inventory_on_order_qty_end_wk,
       |  COUNT(*) AS days_active,
       |  CAST(count_if(oos_flg = 1) AS BIGINT) AS out_of_stock_days,
       |  CAST(count_if(on_hand < day_qty) AS BIGINT) AS low_stock_days,
       |  count_if(oos_flg = 1) / 7.0 AS out_of_stock_ratio,
       |  SUM(CASE WHEN on_hand < day_qty THEN day_qty - on_hand ELSE 0 END)
       |    AS potential_low_stock_impact,
       |  arg_max(on_hand, cal_dt) / SUM(day_qty) AS weeks_supply
       |FROM daily
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "retail_weekly_faithful"  -> (faithful _),
    "retail_weekly_corrected" -> (corrected _))

  val oracles: Map[String, String] = Map(
    "retail_weekly_faithful"  -> faithfulSql,
    "retail_weekly_corrected" -> correctedSql)
}
