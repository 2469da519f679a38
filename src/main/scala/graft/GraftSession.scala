package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions

/** The one way every graft `main` (and the test suites) builds its
  * SparkSession, so session settings cannot drift between tools.
  *
  * Always: UTC session time zone, the [[CodegenDefaults]] for every key
  * the caller's conf does not already carry, and after `getOrCreate()`
  * [[prepare]] (native functions, idempotently) and log level WARN.
  *
  * When spark-submit supplied the master (`spark.master` is already in
  * the `SparkConf`, e.g. the Airflow DAG's `RetailEtlApp` run), only
  * those two absent-only codegen defaults are added: the cluster's own
  * settings win. Otherwise the master is `SPARK_GRAFT_MASTER`, falling
  * back to `local[`[[cpus]]`]`, with shuffle partitions = [[cpus]] and
  * the UI off.
  *
  * A `local-cluster[n,cores,memMB]` master spawns real executor JVMs
  * (Spark's own multi-JVM test mode) — the only local way to push a
  * native `Expression`, an `Aggregator`, a broadcast codebook or
  * bucketed catalog metadata across a process boundary. Those child
  * JVMs do not inherit the driver's `-cp`/`--add-opens` flags, so the
  * factory hands them the driver's classpath (the Spark jars come from
  * `SPARK_HOME`, which the worker launcher requires anyway) and the
  * JDK17 module opens.
  *
  * `extraConf` pairs are applied last, so a caller can override any
  * default (a test pinning `local[4]`, a Hive-backed harness).
  */
object GraftSession {

  /** Cores for the default local master and the shuffle partition
    * count: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** The add-opens set tools/verify.sh passes the driver JVM. */
  private val Opens: String =
    Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .map(p => s"--add-opens java.base/$p=ALL-UNNAMED").mkString(" ")

  /** Codegen settings a warm catalog needs, applied only where the
    * session's conf lacks the key (a caller's `--conf`/`-D` wins).
    *  - `spark.sql.codegen.cache.maxEntries`: Spark's default cache of
    *    100 generated classes is smaller than one catalog pass, so every
    *    warm pass recompiled (and re-JITted) most of its code. Static:
    *    it sizes the JVM-wide cache at the first code generation, so it
    *    must be in place before the JVM's first query.
    *  - `spark.sql.codegen.useIdInClassName`: whole-stage codegen ids
    *    can change order between runs of the same query, and with the
    *    id in the class name the source text, the cache key, changes
    *    too.
    */
  val CodegenDefaults: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Readies any session for the catalog: sets each [[CodegenDefaults]]
    * key the session's conf does not contain, then registers the native
    * functions. Idempotent; runs in [[apply]] and at the
    * [[SparkEntry.queries]] boundary. */
  def prepare(spark: SparkSession): Unit = {
    // the session's SQLConf, not `spark.conf`: the static cache size
    // must reach a plain session whose JVM has not generated code yet
    val conf = spark.sessionState.conf
    CodegenDefaults.foreach { case (k, v) => if (!conf.contains(k)) conf.setConfString(k, v) }
    GraftFunctions.register(spark)
  }

  def apply(app: String, extraConf: (String, String)*): SparkSession = {
    val submitted = new SparkConf()
    val b = SparkSession.builder()
      .appName(app)
      .config("spark.sql.session.timeZone", "UTC")
    CodegenDefaults.foreach { case (k, v) => if (!submitted.contains(k)) b.config(k, v) }
    if (!submitted.contains("spark.master")) {
      val m = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
      b.master(m)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
      if (m.startsWith("local-cluster"))
        b.config("spark.executor.extraClassPath",
            sys.props.getOrElse("java.class.path", ""))
          // no -Dspark.* here: Spark rejects spark options in executor
          // opts, and session confs (timezone etc.) propagate via SQLConf
          .config("spark.executor.extraJavaOptions", Opens)
    }
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    prepare(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
