package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewJoin

/** The salted join must be multiset-identical to the plain join and
  * must actually spread a hot key across salt partitions. */
class SkewJoinSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("salted join result equals the plain join (skewed fact)") {
    // one hot supplier (90% of rows) + a tail
    val left = Tables.load(spark, SF, "lineitem")
      .select(col("l_suppkey").as("k"), col("l_quantity").as("v"))
      .withColumn("k", when(col("v") < 45, lit(7L)).otherwise(col("k")))
    val right = Tables.load(spark, SF, "supplier")
      .select(col("s_suppkey").as("k"), col("s_name"))

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k", "v", "s_name").count()
        .as[(Long, Double, String, Long)].collect().toSet

    val plain = canon(left.join(right, Seq("k")))
    assert(canon(SkewJoin.salted(left, right, Seq("k"), factor = 8)) === plain)
    assert(canon(SkewJoin.saltedBy(left, right, Seq("k"), 8, col("v"))) === plain)
  }

  test("salting the faithful fanout join preserves the multiset (hot cell)") {
    // the skew0.1 tier's hot fanout cell in miniature: row-level sales against a
    // per-(key, date) inventory, one hot (PROD_KEY, STORE_KEY) cell
    // carrying most rows. The date-less join fans the hot cell out
    // quadratically; salting must spread it WITHOUT changing a single
    // joined row.
    val sales = spark.range(2000).select(
      when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id") % 7 + 2).as("PROD_KEY"),
      when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id") % 5 + 2).as("STORE_KEY"),
      col("id").as("TRANS_ID"),
      (col("id") % 50).cast("double").as("SALES_QTY"))
    val inventory = sales
      .groupBy(col("PROD_KEY"), col("STORE_KEY"), (col("TRANS_ID") % 30).as("INVENTORY_CAL_DT"))
      .agg(sum(col("SALES_QTY")).as("ON_HAND"))
    val keys = Seq("PROD_KEY", "STORE_KEY")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("PROD_KEY", "STORE_KEY", "TRANS_ID", "INVENTORY_CAL_DT", "ON_HAND")
        .count().collect().map(_.toSeq).toSet

    val plain = canon(sales.join(inventory, keys))
    // the hot cell fans out: ~1800 sales rows x ~27 inventory dates
    assert(plain.size > 40000, s"fixture must actually fan out, got ${plain.size}")
    val salted = canon(SkewJoin.saltedBy(sales, inventory, keys, 16, col("TRANS_ID")))
    assert(salted === plain, "salted fanout join must be multiset-identical")
  }

  test("hot key rows actually spread over the salt space (operator's own salts)") {
    val left = spark.range(10000).select(lit(1L).as("k"), col("id").as("v"))
    // exercise BOTH of SkewJoin's salt derivations, not a re-implementation
    Seq(SkewJoin.randSalt(8, seed = 42L), SkewJoin.hashSalt(col("v"), 8)).foreach { salt =>
      val counts = left.withColumn("salt", salt)
        .groupBy("salt").count().as[(Int, Long)].collect().toMap
      assert(counts.size === 8, "all 8 salt values used")
      assert(counts.values.max < 10000 * 0.25, "no salt bucket dominates")
    }
  }
}
