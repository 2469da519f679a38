package graft

/** Plan-audit tool: prints the formatted physical plan of named
  * catalog queries (all of them if no KNOWN name is given — unknown
  * args are warned about and ignored, so `tools/verify.sh <sf> out
  * graft.Explain`, which passes its outDir positionally, still prints
  * everything). Usage:
  *   tools/verify.sh <sfDir> ignored graft.Explain   (all plans)
  *   java -cp ... graft.Explain <sfDir> q03_star_join_revenue ...
  * Reviewing `.explain("formatted")` output per operator — pushed
  * filters, exchange placement, codegen spans — is part of the
  * engineering loop, not an afterthought; this makes it one command.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val (names, unknown) = args.drop(1).toSet.partition(SparkEntry.queries.contains)
    unknown.foreach(a => System.err.println(s"[explain] ignoring unknown query name: $a"))
    val spark = GraftSession("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    // NonFatal only: an OOM/StackOverflow must crash the tool, and a
    // scripted plan audit must see a nonzero exit for any broken query
    var failed = false
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names(name)) {
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case scala.util.control.NonFatal(e) =>
          failed = true
          println(s"[explain] $name failed: $e")
        }
        // the cache rule (Materialized): the entry point releases the
        // frames a query shared
        spark.catalog.clearCache()
      }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
