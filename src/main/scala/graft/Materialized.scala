package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one cache rule for a frame that several consumers share: persist
  * it at MEMORY_AND_DISK and fill every partition in one job, before any
  * consumer is planned, then hand the frame back.
  *
  * Left lazy, the consumers run as concurrent adaptive stages that race
  * to build the same cached partitions: duplicate tasks, Spark's "Block
  * rdd_N_M already exists" log, and work counts that change from run to
  * run. The fill is a `noop`-format write rather than `count()`, which
  * adds a job of its own under adaptive execution.
  *
  * A plan that is already cached (an equal plan materialized earlier in
  * the session) is returned as is: no second persist, no second fill.
  *
  * Release: a catalog query cannot unpersist a frame its result still
  * reads before its caller executes that result, so the entry point
  * releases it with `spark.catalog.clearCache()` (see [[SparkEntry]]).
  * An owner that reads the frame completely inside its own call
  * releases it there with `unpersist`.
  */
object Materialized {

  def apply(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      df.write.format("noop").mode("overwrite").save()
    }
    df
  }
}
