package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** Session extension registering graft's native expressions (every row
  * of [[GraftFunctions.all]]) as SQL functions — the supported
  * deployment path for custom Catalyst code:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions()) ...
  * }}}
  *
  * after which `SELECT graft_simhash64(text) FROM docs` parses and
  * codegens like a builtin. Operators build their columns with
  * `call_function("graft_…")`, so an operator called directly needs a
  * session with this extension (`SparkConfigs.local` and the test
  * session set it) or one [[GraftFunctions.install]] call on it first.
  * `SparkEntry`, `Pipeline.run` and `TrainingDataPipeline.run` make that
  * call themselves. (The same hook would register a custom
  * `Rule[LogicalPlan]` via `injectOptimizerRule` or a `SparkStrategy`
  * via `injectPlannerStrategy` if an operator ever needs a bespoke
  * physical plan; graft's operators so far compose from existing plans,
  * so only functions are injected.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""),
        builder))
    }
}
