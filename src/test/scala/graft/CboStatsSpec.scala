package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.AnalyticsQueries
import graft.sources.Tables

/** Cost-based-optimizer statistics as the scale-time planner input.
  * Every join-order claim in the repo rides hints + AQE; at 100 TB the
  * hints come off and `ANALYZE TABLE ... COMPUTE STATISTICS` is what
  * tells the optimizer which side is small. These specs exercise that
  * path end to end: the SAME query plans a shuffle join without column
  * stats and a broadcast join with them (a filtered dimension whose
  * size only statistics can see), and the q152 star picks its
  * broadcasts from stats alone with every hint removed.
  */
class CboStatsSpec extends SparkSpec {

  private val db = "cbo_spec"

  private lazy val tables: Unit = {
    val loc = graft.sources.TempDirs.create("cbo_db").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    val cust = Tables.customer(spark, sf("sf0.01"))
    // two byte-identical copies: one analyzed, one statless
    cust.write.mode("overwrite").saveAsTable(s"$db.customer_stats")
    cust.write.mode("overwrite").saveAsTable(s"$db.customer_raw")
    Seq("region" -> Tables.region(spark, sf("sf0.01")),
      "nation" -> Tables.nation(spark, sf("sf0.01")),
      "supplier" -> Tables.supplier(spark, sf("sf0.01")),
      "orders" -> Tables.orders(spark, sf("sf0.01")),
      "lineitem" -> Tables.lineitem(spark, sf("sf0.01")))
      .foreach { case (n, df) =>
        df.write.mode("overwrite").saveAsTable(s"$db.$n")
      }
    spark.sql(s"ANALYZE TABLE $db.customer_stats COMPUTE STATISTICS " +
      "FOR COLUMNS c_mktsegment, c_custkey, c_nationkey")
    Seq("region", "nation", "supplier", "orders", "lineitem").foreach { t =>
      spark.sql(s"ANALYZE TABLE $db.$t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
  }

  test("column stats flip a filtered-dim join to broadcast; no stats, no flip") {
    tables
    def q(custTable: String): DataFrame =
      spark.table(s"$db.orders")
        .join(spark.table(custTable)
          .filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"))
    // threshold strictly between the filtered-segment estimate
    // (~1/5 of the table, visible only through c_mktsegment's ndv)
    // and the whole-table size (the stats-blind Filter estimate)
    val fullSize = spark.table(s"$db.customer_raw")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (fullSize / 2).toString) {
      val withStats = q(s"$db.customer_stats")
      val without = q(s"$db.customer_raw")
      val pStats = withStats.queryExecution.executedPlan.toString
      val pRaw = without.queryExecution.executedPlan.toString
      assert(pStats.contains("BroadcastHashJoin"),
        s"analyzed dim should broadcast from its column stats:\n$pStats")
      assert(!pRaw.contains("BroadcastHashJoin") &&
        (pRaw.contains("SortMergeJoin") || pRaw.contains("ShuffledHashJoin")),
        s"statless dim must not broadcast at this threshold:\n$pRaw")
      // the plan change is pure strategy: results identical
      assert(withStats.collect().map(_.toSeq).toSeq ==
        without.collect().map(_.toSeq).toSeq)
    }
  }

  test("q152 star picks its broadcasts from stats with every hint removed") {
    tables
    // the q152 join tree verbatim, minus every broadcast() hint, over
    // the analyzed catalog tables — what the query looks like at 100 TB
    // where hints are a liability and stats are maintained at commit
    def starNoHints: DataFrame = {
      val region = spark.table(s"$db.region").filter(col("r_name") === "ASIA")
      val nation = spark.table(s"$db.nation")
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = spark.table(s"$db.customer_stats")
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val ord = spark.table(s"$db.orders")
        .filter(year(col("o_orderdate")) === 1996)
        .select("o_orderkey", "o_custkey")
      val supp = spark.table(s"$db.supplier").select("s_suppkey", "s_nationkey")
      spark.table(s"$db.lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1e6)
            .cast("long").as("rev_micro"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_lines"), sum("rev_micro").as("rev_micro"))
        .orderBy("n_name")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      val df = starNoHints
      val plan = df.queryExecution.executedPlan.toString
      val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
      assert(nBroadcast >= 3,
        s"stats should broadcast the dim chain (found $nBroadcast):\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
      // and it computes exactly what the hinted production query does
      val want = AnalyticsQueries.q152RegionalRevenue(spark, sf("sf0.01"))
        .collect().map(_.toSeq).toSeq
      assert(df.collect().map(_.toSeq).toSeq == want)
    }
  }
}
