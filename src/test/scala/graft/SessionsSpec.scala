package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.col

import graft.operators.AsofJoin
import graft.plans.{AsofJoinExec, AsofJoinStrategy, PruneAsofRightColumns, PushFilterThroughAsof}

/** Pins the one session builder: a `Sessions.graft` session (the shared
  * test session is one) carries the canonical conf and every piece of
  * `GraftExtensions`, and nothing registers behind its back. Also pins
  * the local-cluster executor-sizing contract (SCALING.md r13: the
  * bracket's third field is only the worker's advertised capacity;
  * executors launch at the 1 GiB default unless spark.executor.memory
  * is set from it); those cases are pure builder/parse checks. */
class SessionsSpec extends SparkSpec {

  test("a Sessions.graft session carries the canonical conf") {
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      // compile-once code generation (CodegenReuseSpec)
      "spark.sql.codegen.cache.maxEntries" -> Sessions.codegenCacheEntries.toString,
      "spark.sql.artifact.isolation.enabled" -> "false",
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("a Sessions.graft session has GraftExtensions installed") {
    val registry = spark.sessionState.functionRegistry
    Seq("float_vec_dot", "bottom_k", "count_min_graft", "count_min_merge_graft",
      "int8_vec_dot", "zorder2", "pcm_fold").foreach { fn =>
      assert(registry.functionExists(FunctionIdentifier(fn)), fn)
    }
    assert(spark.sessionState.planner.strategies.contains(AsofJoinStrategy))
    val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules
    assert(rules.contains(PruneAsofRightColumns) && rules.contains(PushFilterThroughAsof))
  }

  test("the native as-of join plans without registering anything at run time") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 20L)).toDF("ticker", "ts")
    val right = Seq((1L, 15L, 1.5)).toDF("ticker", "rts", "px")
    val out = AsofJoin.backwardNative(left, right, "ticker", "ts", "rts", "px", "asof_px")
    assert(out.orderBy(col("ts")).collect().map(r => Option(r.get(2))).toSeq ==
      Seq(None, Some(1.5)))
    assert(out.queryExecution.sparkPlan.exists(_.isInstanceOf[AsofJoinExec]))
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }

  test("bracket memMB parses to executor memory, with or without whitespace") {
    assert(Sessions.executorMemFromMaster("local-cluster[4,8,6144]")
      .contains("6144m"))
    // Spark's own master regex accepts spaces; silently falling back to
    // the 1 GiB default on them was the exact bug this parse fixes
    assert(Sessions.executorMemFromMaster("local-cluster[4, 8, 6144]")
      .contains("6144m"))
    assert(Sessions.executorMemFromMaster("local-cluster[ 2 , 4 , 3072 ]")
      .contains("3072m"))
  }

  test("non-local-cluster masters imply no executor sizing") {
    assert(Sessions.executorMemFromMaster("local[32]").isEmpty)
    assert(Sessions.executorMemFromMaster("spark://host:7077").isEmpty)
  }

  test("a malformed local-cluster bracket fails loudly, never under-sizes") {
    assert(Sessions.executorMemFromMaster("local-cluster[4,8]").isEmpty)
    val e = intercept[IllegalArgumentException] {
      Sessions.applyMaster(org.apache.spark.sql.SparkSession.builder(),
        "local-cluster[4,8]", memOverride = None)
    }
    assert(e.getMessage.contains("cannot size executors"))
    // the explicit override rescues an unparseable bracket
    Sessions.applyMaster(org.apache.spark.sql.SparkSession.builder(),
      "local-cluster[4,8]", memOverride = Some("2048m"))
  }
}
