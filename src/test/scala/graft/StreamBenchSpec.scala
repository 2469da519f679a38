package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bookkeeping for the per-round streaming artifact (`StreamBench` →
  * `bench_reports/stream_r{N}.json`): the JSON assembly is pure, so
  * its shape is pinned here without a streaming run. */
class StreamBenchSpec extends AnyFunSuite {

  test("recordJson carries per-batch arrays and scalars verbatim, nulling no-metric batches") {
    val r = StreamBench.recordJson("sessionize",
      batchMs = Seq(120L, 80L, -1L), stateRows = Seq(10L, 7L, 0L),
      wallS = 1.2345, outRows = 42L)
    assert(r ===
      """"sessionize": {"batch_ms": [120,80,null], "state_rows": [10,7,0], """ +
        """"wall_s": 1.235, "out_rows": 42}""")
  }

  test("recordJson of a single-batch stateless op emits null state rows, not a -1 sentinel") {
    val r = StreamBench.recordJson("tumbling_agg",
      batchMs = Seq(95L), stateRows = Seq(-1L), wallS = 0.5, outRows = 7L)
    assert(r.contains(""""batch_ms": [95]"""))
    // schema 2: a stateless micro-batch is self-describing JSON null —
    // no out-of-band sentinel documentation needed to read the artifact
    assert(r.contains(""""state_rows": [null]"""))
    assert(!r.contains("-1"))
  }

  test("reportJson wraps records into one parseable object") {
    val recs = Seq(
      StreamBench.recordJson("a", Seq(1L), Seq(2L), 0.1, 3L),
      StreamBench.recordJson("b", Seq.empty, Seq.empty, 0.2, 0L))
    val report =
      StreamBench.reportJson("target/benchdata/sf1", 12.5, recs, "8", 8)
    // structural pin: headline scalar first, every record under "ops"
    assert(report.startsWith(
      """{"metric": "stream_total", "value": 12.500, "unit": "sec", """))
    assert(report.contains(""""sf": "target/benchdata/sf1""""))
    // schema 3: the -1→null sentinel retirement (2) plus the harness
    // config — batch latencies are only comparable at equal cpus
    assert(report.contains(""""schema": 3"""))
    assert(report.contains(""""cpus": "8", "splits": 8"""))
    assert(!report.contains("state_rows_sentinel"))
    assert(report.contains(""""ops": {"a": """))
    assert(report.contains(""", "b": {"batch_ms": [], """))
    assert(report.endsWith("}}"))
    // decimal separator is locale-independent (Locale.ROOT)
    assert(!report.contains(",".concat("500")))
  }
}
