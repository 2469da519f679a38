package graft

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The codegen defaults of [[GraftSession.prepare]]: a plain session
  * handed to a catalog entry gets them, a caller's own values stay, and
  * with them a warm pass over perfbench's `retail_star` entries reuses
  * every generated class instead of recompiling it. */
class CodegenCacheSpec extends AnyFunSuite with SparkSuite {

  private val MaxEntries = "spark.sql.codegen.cache.maxEntries"
  private val UseId = "spark.sql.codegen.useIdInClassName"

  private def conf(s: SparkSession, k: String): Option[String] =
    s.sessionState.conf.getAllConfs.get(k)

  /** A new session, stripped of both keys its context's conf carries. */
  private def plain(): SparkSession = {
    val s = spark.newSession()
    Seq(MaxEntries, UseId).foreach(s.sessionState.conf.unsetConf)
    s
  }

  private def runEntry(s: SparkSession, name: String): Unit =
    try SparkEntry.queries(name)(s, SF).write.format("noop").mode("overwrite").save()
    finally s.catalog.clearCache()

  test("a plain session handed to a catalog entry gets both codegen defaults") {
    val s = plain()
    assert(conf(s, MaxEntries).isEmpty && conf(s, UseId).isEmpty)
    runEntry(s, "mm_binary_meta")
    assert(conf(s, MaxEntries) === Some("4000"))
    assert(conf(s, UseId) === Some("false"))
  }

  test("a session that already sets either key keeps the caller's value") {
    val s = plain()
    // static key: the session conf is where a --conf / -D value lands
    s.sessionState.conf.setConfString(MaxEntries, "100")
    s.conf.set(UseId, "true")
    runEntry(s, "mm_binary_meta")
    assert(conf(s, MaxEntries) === Some("100"))
    assert(conf(s, UseId) === Some("true"))
  }

  test("a warm pass over retail_star's entries compiles no class") {
    // perfbench/settings.json's retail_star list
    val entries = Seq("q05_fanout_join", "q08_metric_assembly", "q13_bucketed_join",
      "retail_weekly_corrected", "events_sessionize", "events_range_join", "layout_zorder")
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      entries.foreach(runEntry(spark, _))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    pass()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount > 0) // the counter is live
    // Adaptive execution re-plans as each shuffle stage finishes, so a
    // warm pass can still meet a stage layout no earlier pass built
    // (events_range_join has two; each new class compiles once for the
    // driver's and once for the executors' class loader). Each layout
    // compiles once and then stays cached; at Spark's default cache
    // size every warm pass recompiles most of the list.
    val warm = mutable.ArrayBuffer.empty[Long]
    while (warm.size < 5 && !warm.lastOption.contains(0L)) warm += pass()
    assert(warm.last === 0L, s"classes compiled per warm pass: $warm")
  }
}
