package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{EventsStream, SessionStream}

/** Streaming-on-skew benchmark — `StreamSkewBench <uniformDir>` with
  * the skewed twin from `SPARK_GRAFT_SKEW_DIR` (default the BenchData
  * `skew0.1` variant, whose events put ~20% of all rows on ONE hot
  * user). The batch skew tier (graft.SkewBench) covered joins and
  * aggregations; this covers the STATEFUL STREAMING face of the same
  * data: `flatMapGroupsWithState` sessionization groups by user, so
  * the hot user concentrates a fifth of every micro-batch in a single
  * group whose fold runs serially inside one task — the streaming
  * analog of a straggler. The question this answers with numbers: does
  * a hot key stall the watermark or blow up state, or does the
  * per-batch time stay within the uniform band?
  *
  * Protocol: events are re-written as k time-range files with
  * ascending mtimes (the file source orders batches by mtime;
  * time-ordered batches keep the 0-second watermark honest, same
  * idiom as SessionStreamSpec), then streamed with
  * maxFilesPerTrigger=1 so every file is its own micro-batch.
  * Recorded per run: per-batch trigger-execution millis, per-batch
  * state rows, emitted rows, wall seconds. The windowed tumbling agg
  * (time-keyed state — a hot USER does not skew it) runs as the
  * control. One JSON line on stdout, same contract as graft.Bench.
  */
object StreamSkewBench {

  def main(args: Array[String]): Unit = {
    val uniformDir = args(0) // extra args (verify.sh's outDir) ignored
    val skewDir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR", "target/benchdata/skew0.1")
    val splits = sys.env.getOrElse("SPARK_GRAFT_STREAM_SPLITS", "8").toInt
    // recentProgress keeps only this many entries (default 100);
    // with one micro-batch per split, fewer than `splits` would
    // silently truncate the per-batch metric arrays below.
    val spark = GraftSession("graft-streamskew",
      "spark.sql.streaming.numRecentProgressUpdates" ->
        math.max(100, splits * 2).toString)

    // time-split + timed-run helpers shared with the per-round
    // streaming artifact (StreamBench)
    def timeSplit(dir: String, k: Int): String =
      StreamBench.timeSplit(spark, dir, k)

    def num(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

    def runTimed(start: () => StreamingQuery, sink: String)
        : (Seq[Long], Seq[Long], Double, Long) =
      StreamBench.runTimed(spark, start, sink)

    def sessionRun(tag: String, dir: String): String = {
      // timeSplit lays the slices out as <out>/events.parquet/pNN —
      // SessionStream streams the inner table dir directly
      val in = s"${timeSplit(dir, splits)}/events.parquet"
      val (trig, state, wall, outRows) = runTimed(
        () => SessionStream.run(spark, in, s"graft_sskew_$tag",
          maxFilesPerTrigger = Some(1)),
        s"graft_sskew_$tag")
      // StreamBench.recordJson: schema-2 shape (no-metric batches
      // emit null, never a -1 sentinel)
      StreamBench.recordJson(s"session_$tag", trig, state, wall, outRows)
    }

    def tumblingRun(tag: String, dir: String): String = {
      val (_, _, wall, outRows) = runTimed(
        () => EventsStream.tumblingAgg(spark, dir, s"graft_tskew_$tag"),
        s"graft_tskew_$tag")
      s""""tumbling_$tag": {"wall_s": ${num(wall)}, "out_rows": $outRows}"""
    }

    val parts = Seq(
      sessionRun("uniform", uniformDir), sessionRun("skew", skewDir),
      tumblingRun("uniform", uniformDir), tumblingRun("skew", skewDir))
    // schema 2 = the StreamBench vintage marker (no-metric batches
    // emit null; pre-schema-2 artifacts carried a -1 sentinel)
    println(parts.mkString(s"""{"metric": "stream_skew", "schema": 2, """, ", ", "}"))
    spark.stop()
  }
}
