package graft

import org.apache.spark.sql.SparkSession

/** One shared local session across suites (getOrCreate dedupes), built
  * by the engine's own factory so specs see the functions and settings
  * every main sees. Specs run on sf0.001 for speed — full DuckDB-oracle
  * hash checks run at sf0.01 via graft.Verify (see tools/verify.sh). */
trait SparkSuite {
  lazy val spark: SparkSession = SparkSuite.sessionLock.synchronized {
    GraftSession("graft-test",
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      // plan-string assertions read PushedFilters/ReadSchema; the default
      // 100-char metadata truncation would cut them off mid-list
      "spark.sql.maxMetadataStringLength" -> "10000")
  }

  val SF: String = "/root/testdata/sf0.001"
}

object SparkSuite {
  /** Suites run in parallel inside the forked test JVM, and
    * [[ExtensionsSpec]] must clear the default session while it builds
    * its extensions-bearing one — without a lock, a concurrently
    * initializing suite can publish a fresh default session inside
    * that window and ExtensionsSpec's getOrCreate adopts it
    * (extensions-less → UNRESOLVED_ROUTINE). Every session
    * construction path in the test JVM takes this lock. */
  val sessionLock = new Object
}
