package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BottomK, CountMinAgg, CountMinMergeAgg, FloatVecDot}

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions, planner strategies and optimizer rules. Every session
  * `Sessions.graft` builds installs it (`Sessions.withMaster`).
  *
  * SQL surface: `float_vec_dot(a, b)` (codegen'd float-vector dot
  * product), `bottom_k(col, k)` (O(k) bottom-k sketch aggregate),
  * `count_min_graft(col, depth, width)` / `count_min_merge_graft(sk,
  * depth, width)` (mergeable count-min sketches; `_graft` suffix keeps
  * clear of the built-in `count_min_sketch`), `int8_vec_dot(a, b)`
  * (codegen'd quantized dot product), `zorder2(a, b)` (codegen'd
  * Morton interleave), `pcm_fold(content)` (single-pass PCM WAV
  * sample stats); plus the native as-of
  * join (graft.plans.AsofJoinNode/Exec + its pruning/pushdown rules).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Constant int argument of a SQL call (k, depth, width). */
  private def intArg(e: Expression, fn: String, name: String): Int = {
    require(e.foldable, s"$fn: $name must be a constant")
    e.eval().asInstanceOf[Number].intValue()
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("float_vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "float_vec_dot(a, b) takes two arguments")
        FloatVecDot(children.head, children(1))
      }))
    // aggregate functions: the analyzer wraps a returned
    // AggregateFunction into its AggregateExpression
    ext.injectFunction((
      new FunctionIdentifier("bottom_k"),
      new ExpressionInfo(classOf[BottomK].getName, "bottom_k"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "bottom_k(col, k) takes two arguments")
        BottomK(children.head, intArg(children(1), "bottom_k", "k"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("count_min_graft"),
      new ExpressionInfo(classOf[CountMinAgg].getName, "count_min_graft"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "count_min_graft(col, depth, width) takes three arguments")
        CountMinAgg(children.head,
          intArg(children(1), "count_min_graft", "depth"),
          intArg(children(2), "count_min_graft", "width"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("count_min_merge_graft"),
      new ExpressionInfo(classOf[CountMinMergeAgg].getName, "count_min_merge_graft"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "count_min_merge_graft(sk, depth, width) takes three arguments")
        CountMinMergeAgg(children.head,
          intArg(children(1), "count_min_merge_graft", "depth"),
          intArg(children(2), "count_min_merge_graft", "width"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("int8_vec_dot"),
      new ExpressionInfo(classOf[graft.functions.Int8VecDot].getName, "int8_vec_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "int8_vec_dot(a, b) takes two arguments")
        graft.functions.Int8VecDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("zorder2"),
      new ExpressionInfo(classOf[graft.functions.ZOrder2].getName, "zorder2"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "zorder2(a, b) takes two arguments")
        graft.functions.ZOrder2(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("pcm_fold"),
      new ExpressionInfo(classOf[graft.functions.PcmFold].getName, "pcm_fold"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "pcm_fold(content) takes one argument")
        graft.functions.PcmFold(children.head)
      }))
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PruneAsofRightColumns)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsof)
  }
}
