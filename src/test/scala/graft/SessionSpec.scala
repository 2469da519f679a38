package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** The session/function contract: [[GraftSession]] is the one session
  * builder in main code, the native functions are registered only by it
  * and by the [[SparkEntry.queries]] boundary, and that boundary makes
  * an external driver's plain session resolve every entry. */
class SessionSpec extends AnyFunSuite with SparkSuite {

  private def has(s: SparkSession, fn: String): Boolean =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier(fn))

  test("a new session carries none of its parent's temp functions") {
    spark.udf.register("graft_session_probe", (x: Int) => x + 1)
    assert(spark.sql("SELECT graft_session_probe(1)").head().getInt(0) === 2)
    val fresh = spark.newSession()
    assert(!has(fresh, "graft_session_probe"))
    assert(has(spark, "vec_norm"))
    assert(!has(fresh, "vec_norm"))
  }

  test("SparkEntry entries resolve the native functions on a plain session") {
    val fresh = spark.newSession()
    assert(!has(fresh, "minhash_sig64"))
    def rows(s: SparkSession): Seq[String] =
      try SparkEntry.queries("dedup_minhash_lsh")(s, SF).collect().map(_.toString).toSeq.sorted
      finally s.catalog.clearCache()
    val got = rows(fresh)
    assert(got.nonEmpty)
    assert(got === rows(spark))
    assert(GraftFunctions.all.forall { case (name, _, _) => has(fresh, name) })
  }

  test("register never replaces a function the session already has") {
    val fresh = spark.newSession()
    val sentinel: Seq[Expression] => Expression = _ => Literal(42.0)
    fresh.sessionState.functionRegistry
      .createOrReplaceTempFunction("vec_norm", sentinel, "scala_udf")
    GraftFunctions.register(fresh)
    val r = fresh.sql(
      "SELECT vec_norm(array(3.0F, 4.0F)), vec_dot(array(1.0F), array(2.0F))").head()
    assert(r.getDouble(0) === 42.0)
    assert(r.getDouble(1) === 2.0)
  }

  test("one session builder in main code, no function registration in operators") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(".").toAbsolutePath
    def scalaFiles(dir: String): Seq[java.nio.file.Path] = {
      val stream = java.nio.file.Files.walk(root.resolve(dir))
      try stream.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala"))
      finally stream.close()
    }
    def citing(dir: String, token: String): Seq[String] =
      scalaFiles(dir)
        .filter(p => java.nio.file.Files.readString(p).contains(token))
        .map(p => root.relativize(p).toString.replace('\\', '/')).sorted
    assert(citing("src/main", "SparkSession.builder") ===
      Seq("src/main/scala/graft/GraftSession.scala"))
    // split so a grep for register calls does not count this scan
    assert(citing("src/main/scala/graft/operators", "GraftFunctions" + ".register") === Nil)
    // the codegen defaults are set in one place, keyed by name
    Seq("spark.sql.codegen.cache.maxEntries", "spark.sql.codegen.useIdInClassName")
      .foreach(k => assert(citing("src/main", k) === Seq("src/main/scala/graft/GraftSession.scala")))
  }
}
