package graft

import org.apache.spark.sql.functions._
import graft.queries.AnalyticsQueries
import graft.sources.Tables

/** q121 (TPC-H Q17 shape): the analyst writes a per-row correlated
  * scalar aggregate subquery; the PLANNER must decorrelate it into one
  * per-part aggregate joined back to the fact. The DuckDB oracle checks
  * the answer; these specs check the property the oracle cannot see —
  * that no per-row subquery re-execution survives in the plan — and pin
  * the SQL text to an explicitly hand-decorrelated DataFrame twin.
  */
class CorrelatedSubquerySpec extends SparkSpec {

  test("q121's correlated subquery decorrelates to one aggregate feeding a join") {
    val df = AnalyticsQueries.q121CorrelatedSubquery(spark, sf())
    val opt = df.queryExecution.optimizedPlan.toString
    // RewriteCorrelatedScalarSubquery must have eliminated the subquery
    // expression entirely — a surviving scalar-subquery is a scan of
    // lineitem PER ROW of lineitem at 100 TB
    assert(!opt.toLowerCase.contains("subquery"),
      s"correlated subquery survived optimization:\n$opt")
    // ...replacing it with the per-part aggregate joined to the fact
    assert("Aggregate \\[l_partkey".r.findFirstIn(opt).isDefined,
      s"expected a per-part aggregate in the optimized plan:\n$opt")
    assert(opt.contains("Join"), s"expected a join-back:\n$opt")
  }

  test("q126 scans the fact table once — the total reuses the grouped exchange") {
    // AQE's toString appends the pre-adaptive "Initial Plan" — count
    // scans only in the final plan, which is what actually executed
    val plan = withSplitInputs {
      val df = AnalyticsQueries.q126GlobalThreshold(spark, sf())
      df.collect()
      df.queryExecution.executedPlan.toString
    }.split("== Initial Plan ==")(0)
    // the per-supplier aggregate and the global total share one
    // exchange over one scan: the second reference must be a reuse,
    // not a second read of the fact table
    val scans = "FileScan parquet".r.findAllIn(plan).length
    val reuse = plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")
    assert(scans == 1 && reuse,
      s"expected one lineitem scan + exchange reuse (scans=$scans, reuse=$reuse):\n$plan")
  }

  test("q126 equals the scalar-subquery formulation") {
    val perSupp = Tables.lineitem(spark, sf())
      .groupBy("l_suppkey")
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1e6)
        .cast("long")).as("rev_micro"))
    perSupp.createOrReplaceTempView("q126_spec_s")
    val want = spark.sql(
      """SELECT l_suppkey, rev_micro FROM q126_spec_s
        |WHERE rev_micro * 100 > (SELECT SUM(rev_micro) FROM q126_spec_s)
        |ORDER BY rev_micro DESC, l_suppkey ASC""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val got = AnalyticsQueries.q126GlobalThreshold(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("q121 equals the hand-decorrelated DataFrame formulation") {
    val li = Tables.lineitem(spark, sf())
      .select(col("l_partkey"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice") * 1e6).cast("long").as("price_micro"))
    val stats = li.groupBy("l_partkey")
      .agg(sum("qty").as("s"), count(lit(1)).as("n"))
    val part = Tables.part(spark, sf())
      .select("p_partkey", "p_brand", "p_size")
      .filter(col("p_size") <= 10)
    val want = li
      .join(stats, "l_partkey")
      .join(part, col("p_partkey") === col("l_partkey"))
      // the same IEEE op sequence as the SQL: sum→double, /count, ×0.2
      .filter(col("qty").cast("double") <
        lit(0.2) * (col("s").cast("double") / col("n")))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small"), sum("price_micro").as("price_micro"))
      .orderBy("p_brand")
      .collect().map(_.toSeq).toSeq
    val got = AnalyticsQueries.q121CorrelatedSubquery(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(got == want)
    assert(got.nonEmpty, "the small-quantity band must be inhabited")
  }

  test("q159 builds the Q2 subquery join tree once: one lineitem scan, windowed min") {
    val df = AnalyticsQueries.q159MinCostSupplier(spark, sf())
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the reference Q2 text repeats offers⋈supplier⋈nation⋈region inside
    // the correlated subquery — the engine must read lineitem exactly
    // once and take the per-part min as a window over that same frame
    val liScans = "FileScan parquet .*lineitem".r.findAllIn(plan).length
    assert(liScans == 1, s"expected one lineitem scan, got $liScans:\n$plan")
    assert(plan.contains("Window"), s"expected a windowed per-part min:\n$plan")
    // dims ride broadcasts, never a shuffled fact-side join
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q159 equals the per-part-min formulation computed independently") {
    val li = Tables.lineitem(spark, sf())
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    val euro = Tables.supplier(spark, sf())
      .join(Tables.nation(spark, sf()), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf()).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name")
    val offers = li.join(euro, col("l_suppkey") === col("s_suppkey"))
    val mins = offers.groupBy("l_partkey").agg(min("cents").as("mn"))
    val want = offers.join(mins, "l_partkey")
      .filter(col("cents") === col("mn"))
      .join(Tables.part(spark, sf()).filter(col("p_size") <= 10),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("s_name"), col("cents"))
      .orderBy("p_partkey", "s_name")
      .collect().map(_.toSeq).toSeq
    val got = AnalyticsQueries.q159MinCostSupplier(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(got == want)
    assert(got.nonEmpty, "qualifying parts must exist at this SF")
  }

  test("q160 answers both quantifiers from ONE lineitem scan (no self-joins)") {
    val df = AnalyticsQueries.q160SoleProblemSupplier(spark, sf())
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the analyst text scans lineitem three times (base + EXISTS +
    // NOT EXISTS); the roster aggregation needs exactly one
    val liScans = "FileScan parquet".r.findAllIn(plan).length
    assert(liScans <= 3, // lineitem + orders + supplier relations
      s"expected at most 3 relation scans total:\n$plan")
    val li = plan.split("\n").count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(li == 1, s"expected exactly one lineitem scan, got $li:\n$plan")
    assert(!plan.contains("LeftSemi") && !plan.contains("LeftAnti"),
      s"quantifiers must fold into the aggregation, not semi/anti joins:\n$plan")
  }

  test("q160 equals the semi/anti-join formulation computed independently") {
    val li = Tables.lineitem(spark, sf()).select(
      col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
      col("l_returnflag").as("rf"))
    val base = li.filter(col("rf") === "R")
      .join(Tables.orders(spark, sf())
          .filter(col("o_orderstatus") === "F").select("o_orderkey"),
        col("ok") === col("o_orderkey"))
    val others = li.select(col("ok").as("ok2"), col("sk").as("sk2"))
    val othersLate = li.filter(col("rf") === "R")
      .select(col("ok").as("ok3"), col("sk").as("sk3"))
    val want = base
      .join(others,
        col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
      .join(othersLate,
        col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
      .join(Tables.supplier(spark, sf()).select("s_suppkey", "s_name"),
        col("sk") === col("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .collect().map(_.toSeq).toSeq
    val got = AnalyticsQueries.q160SoleProblemSupplier(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(got == want)
    assert(got.nonEmpty, "sole-problem suppliers must exist at this SF")
  }
}
