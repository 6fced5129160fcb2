package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic backward as-of join: for every left row, the most recent
  * right row with rightTime <= leftTime within the same key.
  *
  * Composed from built-ins (SURVEY preference (a)): tag both sides,
  * union, one window pass per key ordered by (time, right-first), and a
  * forward-fill of the right payload — one shuffle on the key, no
  * per-key materialization, scales like any windowed scan. Equal
  * timestamps match (right rows sort before left rows at the same
  * instant), which is DuckDB/standard ASOF `>=` semantics.
  */
object AsofJoin {

  /** leftDf(key, leftTime, ...) x rightDf(key, rightTime, payload) ->
    * leftDf columns + `asOfCol` (null when no right row precedes).
    * `rightOrder` breaks ties among right rows at the same instant
    * (last one wins). */
  def backward(leftDf: DataFrame, rightDf: DataFrame, key: String,
               leftTime: String, rightTime: String, payload: String,
               asOfCol: String, rightOrder: Seq[String] = Nil): DataFrame = {
    val leftCols = leftDf.columns
    val l = leftDf
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(1))          // left sorts after right at equal time
      .withColumn("_p", lit(null).cast(rightDf.schema(payload).dataType))
    val extraOrder = rightOrder.map(rightDf.schema(_)).map(f =>
      (f.name, f.dataType))
    val r0 = rightDf
      .withColumn("_t", col(rightTime))
      .withColumn("_side", lit(0))
      .withColumn("_p", col(payload))
    // align schemas: left carries nulls for right-only order columns
    val lAligned = extraOrder.foldLeft(l) { case (df, (n, dt)) =>
      if (df.columns.contains(n)) df else df.withColumn(n, lit(null).cast(dt)) }
    val rAligned = leftCols.foldLeft(r0) { case (df, n) =>
      if (df.columns.contains(n)) df else df.withColumn(n, lit(null).cast(leftDf.schema(n).dataType)) }
    val cols = (leftCols.toSeq ++ Seq("_t", "_side", "_p") ++ rightOrder).distinct
    val unioned = lAligned.select(cols.map(col): _*)
      .unionByName(rAligned.select(cols.map(col): _*))
    val order = (Seq(col("_t").asc, col("_side").asc) ++ rightOrder.map(col(_).asc))
    val w = Window.partitionBy(key).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      // fill with a struct tagged per right ROW (non-null even when the
      // payload is null) so the most recent right row wins — a null
      // payload must yield null, not resurrect an older right row
      .withColumn("_m",
        last(when(col("_side") === 0, struct(col("_p"))), ignoreNulls = true).over(w))
      .withColumn(asOfCol, col("_m").getField("_p"))
      .filter(col("_side") === 1)
      .select((leftCols.map(col) :+ col(asOfCol)): _*)
  }

  /** The same backward as-of join through the engine's native operator
    * (graft.plans.AsofJoinExec — SURVEY ladder (c)): one streaming merge
    * of the two sorted sides per partition instead of a union+window
    * pass over a doubled row stream. Result-identical to [[backward]];
    * key/time columns must be non-null (a violating row fails fast
    * with the same error on both execution paths). The session must
    * have `GraftExtensions` installed, as every `Sessions.graft`
    * session does, for the node to plan. */
  def backwardNative(leftDf: DataFrame, rightDf: DataFrame, key: String,
                     leftTime: String, rightTime: String, payload: String,
                     asOfCol: String, rightOrder: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import graft.plans.AsofJoinNode
    val spark = leftDf.sparkSession
    val l = leftDf.queryExecution.analyzed
    // fresh exprIds on the right so self-joins (both sides from the same
    // source) cannot alias-collide
    val r0 = rightDf.queryExecution.analyzed
    val r: LogicalPlan = Project(r0.output.map(a => Alias(a, a.name)()), r0)
    def attr(p: LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in [${p.output.map(_.name).mkString(", ")}]"))
    val pAttr = attr(r, payload)
    val out = AttributeReference(asOfCol, pAttr.dataType, nullable = true)()
    org.apache.spark.sql.graft.bridge.ofRows(spark,
      AsofJoinNode(l, r, attr(l, key), attr(r, key),
        attr(l, leftTime), attr(r, rightTime), pAttr,
        rightOrder.map(attr(r, _)), out))
  }
}
