package graft

import org.apache.spark.sql.functions._
import graft.queries.EventsQueries
import graft.sources.Tables

/** q114 plan shape: the cohort derivation must ride ONE user-keyed
  * exchange (window min + same-partitioning dedup), never a second
  * user shuffle or a join back. The DuckDB oracle pins the answer;
  * these specs pin the exchange count and the equivalence to the
  * aggregate-join formulation it replaced.
  */
class RetentionPlanSpec extends SparkSpec {

  test("q114 plans exactly one user-keyed exchange and no join") {
    val plan = withSplitInputs(EventsQueries.q114RetentionCohorts(spark, sf())
      .queryExecution.executedPlan.toString)
    val userExchanges =
      "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(userExchanges == 1,
      s"expected exactly one user-keyed exchange, found $userExchanges:\n$plan")
    assert(!plan.contains("Join"),
      s"cohort derivation must not join back:\n$plan")
    // the dedup must NOT re-shuffle: the only other exchanges are the
    // final (cohort_day, day_offset) combine and the output sort
    val allExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(allExchanges == 2,
      s"expected user + final-combine exchanges only, found $allExchanges:\n$plan")
  }

  test("q114 equals the aggregate-join formulation it replaced") {
    val ev = Tables.events(spark, sf())
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    val want = ev.join(cohort, "user_id")
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"),
        col("user_id"))
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_day", "day_offset")
      .collect().map(_.toSeq).toSeq
    val got = EventsQueries.q114RetentionCohorts(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }
}
