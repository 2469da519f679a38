package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-query work counters: each entry's jobs, stages and
  * tasks land under that entry's name and nowhere else, even with
  * other suites' jobs running on the shared session at the same time. */
class BenchTaskMetricsSpec extends AnyFunSuite with SparkSuite {

  test("task metrics are attributed to the entry whose jobs ran them") {
    val metrics = new Bench.TaskMetricsByQuery(spark)
    def run(tag: String, entry: String): Unit = metrics.attributed(tag) {
      SparkEntry.queries(entry)(spark, SF).write.format("noop").mode("overwrite").save()
    }
    try {
      run("fanout", "q05_fanout_join")
      run("between", "mm_binary_meta")
      run("fanout_again", "q05_fanout_join")
    } finally assert(metrics.finish(), "listener bus did not drain")
    val t = metrics.totals
    assert(t.keySet === Set("fanout", "between", "fanout_again"))
    assert(t.values.forall(_.tasks > 0), t)
    assert(t("fanout").shuffleWriteBytes > 0, t)
    // mm_binary_meta ran between the two identical fanout runs: had any
    // of its tasks been booked to a neighbour, the two would differ.
    // Compressed shuffle bytes of identical runs drift by a few bytes,
    // so the byte check is against the in-between entry's own volume.
    assert(t("fanout_again").tasks === t("fanout").tasks, t)
    assert(t("fanout").jobs > 0 && t("fanout").shuffleStages > 0, t)
    assert(t("fanout_again").jobs === t("fanout").jobs, t)
    assert(t("fanout_again").stages === t("fanout").stages, t)
    assert(t("fanout_again").shuffleStages === t("fanout").shuffleStages, t)
    val drift = (t("fanout_again").shuffleWriteBytes - t("fanout").shuffleWriteBytes).abs
    assert(t("between").shuffleWriteBytes > drift, t)
  }
}
