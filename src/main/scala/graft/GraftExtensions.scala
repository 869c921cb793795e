package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension packaging of the engine (SURVEY §4 tier (c)): start any
  * session with
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * and every graft SQL function plus the barrier-aware parse-pruning
  * optimizer rule is installed — no imperative
  * [[graft.functions.GraftFunctions.registerAll]] call needed (that path
  * remains for programmatic sessions; both install the same
  * [[graft.functions.GraftFunctions.SqlFunctions]] table, are idempotent
  * and can coexist). Injected functions live in the session's own registry
  * and optimizer, so multiple sessions with different extension lists never
  * interfere.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.SqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.PruneBarrieredDecode)
  }
}
