package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.plans.{PlanSingleSplitScans, SingleSplitScanExec}
import graft.sources.Tables
import graft.streaming.StreamingQueries

/** `graft.plans.PlanSingleSplitScans`: a scan Spark reads in one task is
  * planned as a single partition, so a request over one-split inputs
  * runs without shuffle exchanges, while split, bucketed and streaming
  * state inputs keep the plan they had. */
class SingleSplitPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val oneStage = Seq("q01_current_qty", "q02_positions", "q03_cash_balance",
    "q04_latest_prices", "q10_cash_series", "q13_universe_search")

  /** The final plan and job count of `df.count()` (the same aggregate
    * `Dataset.count` plans), as perfbench's dashboard materializes it. */
  private def counted(df: DataFrame): (SparkPlan, Int) = {
    val c = df.groupBy().count()
    val (_, jobs) = jobsDuring(c.collect())
    (c.queryExecution.executedPlan, jobs)
  }

  private def shuffles(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }

  test("q01-q04, q10 and q13 at sf0.001 run as one job with no shuffle exchange") {
    oneStage.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf())
      df.count() // first run of the JVM: schema memo and codegen
      val (plan, jobs) = counted(df)
      assert(shuffles(plan).isEmpty, s"$name:\n$plan")
      assert(jobs == 1, s"$name launched $jobs jobs:\n$plan")
      assert(collect(plan) { case w: SingleSplitScanExec => w }.nonEmpty, s"$name:\n$plan")
    }
  }

  test("the same requests over split inputs keep their exchanges") {
    withSplitInputs {
      oneStage.filterNot(_ == "q13_universe_search").foreach { name =>
        val (plan, _) = counted(SparkEntry.queries(name)(spark, sf()))
        assert(shuffles(plan).nonEmpty, s"$name:\n$plan")
        assert(collect(plan) { case w: SingleSplitScanExec => w }.isEmpty, s"$name:\n$plan")
      }
    }
  }

  test("a one-split table hint-joined to a split table: no scan is wrapped, the split side keeps its reducers") {
    val dir = graft.sources.TempDirs.create("graft_spec_mixed_split")
    Tables.lineitem(spark, sf()).repartition(4).write.parquet(s"$dir/lineitem")
    val fact = spark.read.parquet(s"$dir/lineitem")
    val dim = Tables.orders(spark, sf()) // one file of a few KB
    val joined = fact.join(dim.hint("SHUFFLE_MERGE"), col("l_orderkey") === col("o_orderkey"))
    withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val (plan, _) = counted(joined)
      assert(collect(plan) { case w: SingleSplitScanExec => w }.isEmpty, plan.toString)
      val smj = collect(plan) { case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(smj.size == 1, plan.toString)
      // each join side is hash-shuffled to the same count, more than one
      val reducers = shuffles(plan).map(_.outputPartitioning).collect {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => h.numPartitions
      }
      assert(reducers.size == 2 && reducers.forall(_ > 1), s"$reducers\n$plan")
    }
    assert(joined.count() == fact.join(dim, col("l_orderkey") === col("o_orderkey")).count())
  }

  test("q11 hints its position join as a broadcast only over one-split inputs") {
    val pos = graft.queries.DashboardQueries.positionSeries(spark, sf())
    assert(PlanSingleSplitScans.inputsReadAsOneSplit(pos.queryExecution.analyzed))
    assert(!withSplitInputs(PlanSingleSplitScans.inputsReadAsOneSplit(pos.queryExecution.analyzed)))
    def broadcastHints = SparkEntry.queries("q11_twr_index")(spark, sf()).queryExecution.analyzed
      .collect { case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
        if h.hints.strategy.contains(org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h }.size
    assert(broadcastHints == withSplitInputs(broadcastHints) + 1)
  }

  private val dashboard =
    SparkEntry.queries.keys.filter(_.matches("q(0[1-9]|1[0-5])_.*")).toSeq.sorted

  test("answers do not depend on the rule: split and one-split inputs agree, in order") {
    assert(dashboard.size == 15)
    // every one ends in a global sort, which over a one-split input
    // (q14: a union of two) runs with no exchange; doubles rounded to
    // 1e-9 as tools/compare.py does, rows compared in their order
    def canon(v: Any): Any = v match {
      case d: Double if !d.isNaN && !d.isInfinite =>
        BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      case o => o
    }
    dashboard.foreach { name =>
      def rows = SparkEntry.queries(name)(spark, sf()).collect().map(_.toSeq.map(canon)).toSeq
      assert(rows == withSplitInputs(rows), name)
    }
  }

  test("the rule is idempotent: a plan passed twice is wrapped once") {
    // bucketed scans are never wrapped: AsofBucketingSpec
    val planned = Tables.orders(spark, sf()).groupBy("o_custkey").count()
      .queryExecution.sparkPlan
    val once = PlanSingleSplitScans(planned)
    assert(PlanSingleSplitScans(once) == once)
    assert(once.collect { case w: SingleSplitScanExec => w }.size == 1, once.toString)
  }

  /** State operators of every progress event `run` posts. */
  private def stateOpsDuring(run: => Unit): Seq[StreamingQueryProgress] = {
    val progress = scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress; () }
    }
    spark.streams.addListener(listener)
    try {
      run
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
    } finally spark.streams.removeListener(listener)
    progress.synchronized(progress.toList)
  }

  test("q52 and q73 keep one state store per state partition in every batch") {
    Seq[(String, () => DataFrame)](
      "q52" -> (() => StreamingQueries.q52StreamIntervalJoin(spark, sf())),
      "q73" -> (() => StreamingQueries.q73StreamSlidingWindow(spark, sf()))
    ).foreach { case (name, q) =>
      val batches = stateOpsDuring(assert(q().count() > 0)).filter(_.stateOperators.nonEmpty)
      assert(batches.nonEmpty, name)
      batches.foreach { p =>
        assert(p.stateOperators.length == 1, s"$name: ${p.stateOperators.toSeq}")
        p.stateOperators.foreach { op =>
          // the auto-sized state partition count at sf0.001: every core
          assert(op.numShufflePartitions == spark.sparkContext.defaultParallelism &&
            op.numStateStoreInstances == op.numShufflePartitions, s"$name: $op")
        }
      }
    }
  }

  // micro-batches never run under adaptive execution, the only place
  // post-planner rules are applied, so their plans keep every exchange
  test("a stateful stream resumes on its checkpoint; micro-batch plans are not rewritten") {
    import spark.implicits._
    val tmp = graft.sources.TempDirs.create("graft_spec_single_split")
    val src = tmp.resolve("src").toString; val ckpt = tmp.resolve("ckpt").toString
    val schema = Seq(("a", 0L)).toDF("k", "v").schema
    def addFile(n: Int, rows: Seq[(String, Long)]): Unit =
      rows.toDF("k", "v").coalesce(1).write.parquet(s"$src/part$n")
    var plans = Seq.empty[SparkPlan]
    def runOnce(): Map[String, Long] = StreamingQueries.stateful(spark, sf()) {
      val q = spark.readStream.schema(schema).option("recursiveFileLookup", "true")
        .parquet(src).groupBy("k").agg(sum("v").as("s"))
        .writeStream.format("memory").queryName("graft_single_split_q")
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      finally q.stop()
      plans ++= Option(q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution).map(_.executedPlan)
      spark.table("graft_single_split_q").as[(String, Long)].collect().toMap
    }
    addFile(0, Seq("a" -> 1L, "b" -> 2L))
    assert(runOnce() == Map("a" -> 1L, "b" -> 2L))
    addFile(1, Seq("a" -> 10L))
    // the restart restores b's state and does not re-read part0
    assert(runOnce() == Map("a" -> 11L, "b" -> 2L))
    assert(plans.size == 2)
    plans.foreach { p =>
      assert(p.collect { case w: SingleSplitScanExec => w }.isEmpty, p.toString)
      assert(p.collect { case e: ShuffleExchangeExec => e }.nonEmpty, p.toString)
    }
  }

  // the op that varied was q11 (see its position join)
  test("q01-q15 launch the same number of jobs on every run") {
    dashboard.foreach { name =>
      // a warm-up run first, as perfbench's: a cold schema memo is a job
      val counts = (0 to 3).map { _ =>
        jobsDuring(SparkEntry.queries(name)(spark, sf()).count())._2
      }.tail
      assert(counts.distinct.size == 1, s"$name: $counts")
    }
  }
}
