package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic work gate: every entry Bench times runs once at sf0.001
  * and its job, stage, shuffle-stage and task counts, spill bytes and
  * shuffle write bytes are checked against the committed
  * `src/test/resources/catalog_work.json`. Unlike wall time, these
  * counts do not depend on the host's load or core count, so a plan
  * regression (an extra exchange, a lost pre-aggregation, a second
  * scan) turns the suite red on any machine.
  *
  * Each run writes what it observed to `target/catalog_work.json`;
  * when a plan change is intended, copy that file over the committed
  * one. */
class WorkGateSpec extends AnyFunSuite with SparkSuite {
  import WorkGateSpec._

  test("every entry Bench times does the committed work at sf0.001") {
    // a fresh session: other suites' temporary conf changes (adaptive
    // execution off, broadcast threshold -1) live in the shared
    // session's conf and must not change these plans
    val s = spark.newSession()
    assert(s.sparkContext.master === "local[4]" &&
      s.conf.get("spark.sql.shuffle.partitions") === "4",
      "the committed counts are for local[4] with 4 shuffle partitions")
    val catalog = SparkEntry.queries
    def run(name: String): Unit =
      try catalog(name)(s, SF).write.format("noop").mode("overwrite").save()
      finally s.catalog.clearCache()
    // these serve from state at rest (bucketed tables, an index) that
    // their first call builds; one untimed call each leaves the state
    // fresh, so the counted call takes the serving path
    AtRest.foreach(run)
    val metrics = new Bench.TaskMetricsByQuery(s)
    val entries = (catalog.keySet - Bench.UnboundedPairTool).toSeq.sorted
    try entries.foreach(n => metrics.attributed(n)(run(n)))
    finally assert(metrics.finish(), "listener bus did not drain")
    val totals = metrics.totals
    val got = entries.map(n => n -> work(totals.getOrElse(n, Bench.TaskTotals()))).toMap
    Files.createDirectories(Observed.getParent)
    Files.write(Observed, toJson(got).getBytes(UTF_8))
    val problems = compare(parse(Files.readString(Expected)), got)
    if (problems.nonEmpty) fail(problems.mkString(s"${problems.size} work mismatch(es):\n  ",
      "\n  ", s"\nIf the change is intended, copy $Observed over $Expected."))
  }

  private val base = Map("jobs" -> 3L, "stages" -> 4L, "shuffle_stages" -> 2L,
    "tasks" -> 9L, "spill_mem_bytes" -> 0L, "spill_disk_bytes" -> 0L,
    "shuffle_write_bytes" -> 1000L)

  test("compare: an exact counter that differs fails, naming entry, counter and values") {
    val problems = compare(Map("q" -> base), Map("q" -> base.updated("stages", 5L)))
    assert(problems === Seq("q: stages expected 4, got 5"))
    assert(compare(Map("q" -> base), Map("q" -> base)).isEmpty)
  }

  test("compare: shuffle write bytes pass within 10% and fail beyond it") {
    def bytes(b: Long) = Map("q" -> base.updated("shuffle_write_bytes", b))
    assert(compare(Map("q" -> base), bytes(1090)).isEmpty)
    assert(compare(Map("q" -> base), bytes(910)).isEmpty)
    assert(compare(Map("q" -> base), bytes(1110)) ===
      Seq("q: shuffle_write_bytes expected 1000 (within 10%), got 1110"))
    assert(compare(Map("q" -> base), bytes(890)).size === 1)
    // no shuffle expected: any shuffle byte is a new exchange
    val none = base.updated("shuffle_write_bytes", 0L)
    assert(compare(Map("q" -> none), Map("q" -> base)).size === 1)
  }

  test("compare: a missing or an extra entry fails") {
    assert(compare(Map("a" -> base, "b" -> base), Map("a" -> base)) ===
      Seq("b: entry expected, got no run"))
    assert(compare(Map("a" -> base), Map("a" -> base, "c" -> base)) ===
      Seq("c: entry ran, expected no entry"))
  }

  test("the committed file round-trips through the writer") {
    val expected = parse(Files.readString(Expected))
    assert(expected.nonEmpty)
    assert(parse(toJson(expected)) === expected)
  }
}

object WorkGateSpec {

  val Expected: Path = Paths.get("src/test/resources/catalog_work.json")
  val Observed: Path = Paths.get("target/catalog_work.json")

  /** Entries whose first call builds the state at rest they serve from. */
  val AtRest: Seq[String] = Seq("q13_bucketed_join", "dedup_incremental_bucketed",
    "sim_ann_ivfpq_served")

  /** Counters that must match exactly. */
  val ExactCounters: Seq[String] = Seq("jobs", "stages", "shuffle_stages", "tasks",
    "spill_mem_bytes", "spill_disk_bytes")

  /** Compressed shuffle bytes drift a little with row order inside a
    * block (under 5% on every entry), so this one counter gets a band. */
  val BytesCounter = "shuffle_write_bytes"
  val BytesTolerance = 0.10

  val Counters: Seq[String] = ExactCounters :+ BytesCounter

  type Work = Map[String, Long]

  def work(t: Bench.TaskTotals): Work = Map("jobs" -> t.jobs, "stages" -> t.stages,
    "shuffle_stages" -> t.shuffleStages, "tasks" -> t.tasks,
    "spill_mem_bytes" -> t.spillMemBytes, "spill_disk_bytes" -> t.spillDiskBytes,
    BytesCounter -> t.shuffleWriteBytes)

  /** One line per mismatch, each naming entry, counter, expected and got. */
  def compare(expected: Map[String, Work], got: Map[String, Work]): Seq[String] =
    (expected.keySet ++ got.keySet).toSeq.sorted.flatMap { e =>
      (expected.get(e), got.get(e)) match {
        case (Some(_), None) => Seq(s"$e: entry expected, got no run")
        case (None, Some(_)) => Seq(s"$e: entry ran, expected no entry")
        case (Some(x), Some(g)) =>
          val exact = ExactCounters.filter(c => x(c) != g(c))
            .map(c => s"$e: $c expected ${x(c)}, got ${g(c)}")
          val (xb, gb) = (x(BytesCounter), g(BytesCounter))
          val drifted = if (xb == 0) gb != 0 else (gb - xb).abs > xb * BytesTolerance
          exact ++ Option.when(drifted)(s"$e: $BytesCounter expected $xb " +
            s"(within ${(BytesTolerance * 100).round}%), got $gb")
        case (None, None) => Nil
      }
    }

  /** Sorted, one entry per line, so a re-pin diffs entry by entry. */
  def toJson(work: Map[String, Work]): String =
    work.toSeq.sortBy(_._1).map { case (e, w) =>
      s""" "$e": """ + Counters.map(c => s""""$c": ${w(c)}""").mkString("{", ", ", "}")
    }.mkString("{\n", ",\n", "\n}\n")

  def parse(text: String): Map[String, Work] =
    new ObjectMapper().readTree(text).properties.asScala.map { entry =>
      entry.getKey -> Counters.map { c =>
        val v = entry.getValue.get(c)
        require(v != null && v.canConvertToLong, s"${entry.getKey}: no integer $c")
        c -> v.asLong
      }.toMap
    }.toMap
}
