package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{KthScore, VecDot}

/** One-stop session wiring for the library's custom Catalyst surface:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   .getOrCreate()
  * }}}
  *
  * registers the `vec_dot` expression and `kth_score` aggregate for
  * SQL/`selectExpr` use. Equivalent per-session, post-hoc setup:
  * `VectorFunctions.register` / `TopKFunctions.register`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("kth_score"),
      new ExpressionInfo(classOf[KthScore].getName, "kth_score"),
      (children: Seq[Expression]) => KthScore(children.head, children(1))))
  }
}
