package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one cache rule ([[Materialized]]): a shared frame is cached and
  * filled before its consumers run, an equal plan is cached once, no
  * other source file persists, and the entries that share frames do the
  * same work on every call. */
class CacheRuleSpec extends AnyFunSuite with SparkSuite {

  /** The id of the cached RDD backing `df`'s plan. */
  private def cachedRddId(df: DataFrame): Int =
    df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation =>
      r.cacheBuilder.cachedColumnBuffers.id
    }.getOrElse(fail("plan is not cached"))

  private def shared(): DataFrame =
    spark.range(0, 20000, 1, 4).select((col("id") % 97).as("k"), col("id"))
      .groupBy("k").agg(sum("id").as("s"))

  test("Materialized returns with every partition of the frame cached") {
    try {
      val df = Materialized(shared())
      val id = cachedRddId(df)
      val info = spark.sparkContext.getRDDStorageInfo.find(_.id == id)
        .getOrElse(fail(s"rdd $id holds no cached block"))
      assert(info.numPartitions > 0)
      assert(info.numCachedPartitions === info.numPartitions, info)
    } finally spark.catalog.clearCache()
  }

  test("a second call on an equal plan neither persists nor fills again") {
    try {
      val first = Materialized(shared())
      val metrics = new Bench.TaskMetricsByQuery(spark)
      val second = try metrics.attributed("second")(Materialized(shared()))
        finally assert(metrics.finish(), "listener bus did not drain")
      assert(!metrics.totals.contains("second"), metrics.totals)
      assert(cachedRddId(second) === cachedRddId(first))
    } finally spark.catalog.clearCache()
  }

  test("no source file outside Materialized.scala persists or caches a frame") {
    val root = Paths.get("src/main/scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Materialized.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(".persist(") || line.contains(".cache()") =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("route these through Materialized:\n  ", "\n  ", ""))
  }

  test("entries that share frames do identical work on every call") {
    // a fresh session, as in WorkGateSpec: other suites' conf changes
    // must not change these plans
    val s = spark.newSession()
    val catalog = SparkEntry.queries
    val entries = Seq("sim_ann_ivfpq", "sim_ann_ivf", "dedup_minhash_lsh",
      "retail_weekly_faithful")
    val calls = 3
    val metrics = new Bench.TaskMetricsByQuery(s)
    try for (n <- entries; i <- 1 to calls) metrics.attributed(s"$n#$i") {
      try catalog(n)(s, SF).write.format("noop").mode("overwrite").save()
      finally s.catalog.clearCache()
    } finally assert(metrics.finish(), "listener bus did not drain")
    val totals = metrics.totals
    entries.foreach { n =>
      val work = (1 to calls).map { i =>
        val t = totals.getOrElse(s"$n#$i", Bench.TaskTotals())
        (t.jobs, t.stages, t.tasks)
      }
      assert(work.head._1 > 0, s"$n ran no job")
      assert(work.distinct.size === 1, s"$n (jobs, stages, tasks) per call: $work")
    }
  }
}
