package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.Materialized

/** JSON-lines source/sink — the interchange format training-data
  * pipelines actually exchange documents in. Same design rules as the
  * CSV reader: the schema is DECLARED (a schema-less json read scans
  * everything once just to infer, and infers unstable unions on dirty
  * data), corrupt lines are captured instead of killing the job, and
  * JSONL's line orientation means the reader splits large files by
  * byte range for free — at 100 TB, split-ability IS the source design.
  */
object JsonlTableReader {

  /** The `documents` table's JSONL shape (doc_id, text, lang, source,
    * n_chars) plus the corrupt-record capture column. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("_corrupt", StringType)))

  /** Ensure the quarantine column exists in a caller-supplied schema —
    * without it PERMISSIVE turns malformed lines into silent all-null
    * rows, exactly the failure mode this reader exists to prevent. */
  private def withCorrupt(schema: StructType): StructType =
    if (schema.fieldNames.contains("_corrupt")) schema
    else StructType(schema.fields :+ StructField("_corrupt", StringType))

  /** Read JSONL with a declared schema; malformed lines land whole in
    * `_corrupt` (PERMISSIVE) so the pipeline can quarantine them with a
    * filter instead of failing mid-scan — the right boundary behavior
    * for web-scale text where some corruption is a certainty. */
  def read(spark: SparkSession, path: String,
      schema: StructType = documentsSchema): DataFrame =
    spark.read
      .schema(withCorrupt(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** One-pass split of good rows from quarantined ones. The parse is
    * materialized, shared by both sides (Spark cannot query only the
    * corrupt column straight off raw files); `release()` unpersists it
    * once both sides have been consumed — the caller owns that
    * lifecycle. */
  final case class JsonlSplit(good: DataFrame, quarantined: DataFrame,
      release: () => Unit)

  def readSplit(spark: SparkSession, path: String,
      schema: StructType = documentsSchema): JsonlSplit = {
    val df = Materialized(read(spark, path, schema))
    JsonlSplit(
      df.filter(df("_corrupt").isNull).drop("_corrupt"),
      df.filter(df("_corrupt").isNotNull).select("_corrupt"),
      () => { df.unpersist(blocking = false); () })
  }

  /** Write a frame as JSONL (one object per line, splittable). */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)
}
