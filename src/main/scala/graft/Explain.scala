package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit aid: print the formatted physical plan of the registered
  * queries whose names start with one of the given prefixes (all of
  * them when none is given); docs/PLANS.md is curated from this output.
  * Usage: runMain graft.Explain <sfDir> [prefix...]
  *
  * `SPARK_GRAFT_FINAL=1` executes each query's own QueryExecution first
  * and prints the finalized adaptive plan, where runtime exchange reuse
  * is visible. A query that fails to build or plan prints its error and
  * the sweep goes on.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val prefixes = args.drop(1).toSeq
    val spark = Sessions.graft().appName("graft-explain").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
      .foreach { case (n, fn) =>
        println(s"\n===== $n =====")
        try {
          val df = fn(spark, sfDir)
          if (sys.env.contains("SPARK_GRAFT_FINAL")) {
            // drive THIS QueryExecution's RDD (a write/collect would plan
            // a fresh one): AQE finalizes in place and runtime exchange
            // reuse becomes visible, with nothing pulled to the driver
            df.queryExecution.toRdd.foreach(_ => ())
            println(df.queryExecution.executedPlan.toString)
          } else println(df.queryExecution.explainString(FormattedMode))
        } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
