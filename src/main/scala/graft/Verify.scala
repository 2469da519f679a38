package graft
import java.nio.file.{Files, Paths}
import graft.pipeline.AlertJson.jsonStr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // optional comma-separated subset for local iteration; the driver
    // leaves it unset
    val only = SparkEntry.subset("SPARK_GRAFT_VERIFY_QUERIES",
      SparkEntry.queries.keySet)
    // SPARK_GRAFT_MASTER=local-cluster[<workers>,<cores>,<memMB>] runs
    // executors as SEPARATE JVMs (see GraftSession)
    val spark = GraftSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    selected.foreach { case (name, fn) =>
      val dest = new java.io.File(s"$outDir/$name")
      // pre-delete so a failed query can never be scored against a
      // previous run's parquet lingering at the same path
      def wipe(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(wipe)
        f.delete(): Unit
      }
      if (dest.exists()) wipe(dest)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(dest.getPath)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (dest.exists()) wipe(dest) // no half-written output either
      }
      spark.catalog.clearCache()
    }
    // subset runs dump only the selected queries' oracles: the DuckDB
    // stage iterates oracle_sql.json, so un-dumped entries would each
    // land a junk file-not-found ERR row in a pinned subset artifact
    // (observed on the r17 cluster-at-sf1 run)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
