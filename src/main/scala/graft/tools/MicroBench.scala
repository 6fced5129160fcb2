package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.AsofJoin
import graft.sources.Tables

/** Micro-benchmark: composed (union+window) vs native (merge exec)
  * as-of join on the same slice. An optional multiplier replicates the
  * rows (ids kept unique) so the per-row cost dominates fixed job
  * overhead — at sf0.1 both forms finish in fractions of a second and
  * measure scheduling, not the operator. Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.MicroBench /root/testdata/sf0.1 [mult]"
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val mult = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val spark = graft.Sessions.graft()
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ev0 = Tables.events(spark, sfDir)
    // replicate rows mult x with distinct ids/tickers per copy (the key
    // space scales with mult, so per-partition walks stay comparable)
    val ev = if (mult == 1) ev0 else ev0
      .withColumn("_i", explode(sequence(lit(0), lit(mult - 1))))
      .withColumn("event_id", col("event_id") * mult + col("_i"))
      .withColumn("event_type", concat(col("event_type"), lit("_"), col("_i")))
      .drop("_i")
    def left = ev.filter(col("value") < 40)
      .select(col("event_id"), col("event_type").as("ticker"), col("ts"))
    def right = ev.filter(col("value") >= 150)
      .select(col("event_type").as("ticker"), col("ts").as("rts"),
        col("value").as("close"), col("event_id").as("rid"))
    // time a full materialization through the noop sink: a bare count()
    // would let the optimizer PRUNE the unused window from the composed
    // form (no sort, no window function) while the custom native node
    // always does its full work — an apples-to-oranges probe
    def time(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        println(f"$label run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    }
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
      val c = AsofJoin.backward(left, right, "ticker", "ts", "rts",
        "close", "asof_close", Seq("rid"))
      val nv = AsofJoin.backwardNative(left, right, "ticker", "ts", "rts",
        "close", "asof_close", Seq("rid"))
      // drive each query's own QueryExecution so AQE finalizes in place
      // (a write/collect plans a fresh one and leaves these unfinalized)
      c.queryExecution.toRdd.foreach(_ => ())
      nv.queryExecution.toRdd.foreach(_ => ())
      println("=== composed final plan ===\n" + c.queryExecution.executedPlan)
      println("=== native final plan ===\n" + nv.queryExecution.executedPlan)
    }
    time("composed") {
      AsofJoin.backward(left, right, "ticker", "ts", "rts",
        "close", "asof_close", Seq("rid"))
    }
    time("native  ") {
      AsofJoin.backwardNative(left, right, "ticker", "ts", "rts",
        "close", "asof_close", Seq("rid"))
    }
    // same native plan with whole-stage codegen disabled — isolates the
    // generated merge loop from the surrounding sort/exchange cost
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    time("nat-int ") {
      AsofJoin.backwardNative(left, right, "ticker", "ts", "rts",
        "close", "asof_close", Seq("rid"))
    }
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.stop()
  }
}
