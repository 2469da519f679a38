package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` injector for the graft native functions —
  * the cluster-wide deployment path:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  * }}}
  *
  * makes `vec_dot`/`vec_norm`/`simhash60`/`shingles3`/`minhash_sig64`
  * available in every session's SQL and `expr()` without per-session
  * registration. The in-process path is [[graft.GraftSession]], which
  * calls [[GraftFunctions.register]]; operators register nothing
  * themselves. The extensions add functions only: a session built this
  * way should also get the two codegen confs of
  * [[graft.GraftSession.CodegenDefaults]] as `--conf`s.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, clazz, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getCanonicalName, name), builder))
    }
}
