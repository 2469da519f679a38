package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions

/** The one way every graft `main` (and the test suites) builds its
  * SparkSession, so session settings cannot drift between tools.
  *
  * Always: UTC session time zone; after `getOrCreate()` the native
  * functions are registered (idempotently) and the log level is WARN.
  *
  * When spark-submit supplied the master (`spark.master` is already in
  * the `SparkConf`, e.g. the Airflow DAG's `RetailEtlApp` run), nothing
  * else is added: the cluster's own settings win. Otherwise the master
  * is `SPARK_GRAFT_MASTER`, falling back to `local[`[[cpus]]`]`, with
  * shuffle partitions = [[cpus]] and the UI off.
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

  def apply(app: String, extraConf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .appName(app)
      .config("spark.sql.session.timeZone", "UTC")
    if (!new SparkConf().contains("spark.master")) {
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
    GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
