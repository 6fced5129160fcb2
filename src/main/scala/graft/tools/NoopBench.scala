package graft.tools

/** Noop-sink probe for count-prunable queries.
  *
  * `graft.Bench` times `df.count()`, which is honest for most of the
  * registry but lets Catalyst fold away any work that does not affect
  * cardinality — an as-of join whose value column goes unused, or a
  * left-join + projection transform like q166 whose count is just the
  * doc count. This main times a FULL materialization through the noop
  * sink instead (every column computed, nothing written), the same
  * method MicroBench uses for the as-of pair, generalized to any
  * registry query. One warmup materialization per query precedes the
  * timed trials (median reported), mirroring Bench's warmup/median
  * protocol. Usage:
  *
  *   GRAFT_ONLY=q166 SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.NoopBench"
  *
  * Prints one JSON line; does NOT touch bench/last_bench.json (probe
  * artifacts are the caller's job to save as bench/probe_*).
  */
object NoopBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val trials = sys.env.getOrElse("GRAFT_BENCH_TRIALS", "3").toInt.max(1)
    val spark = graft.Sessions.graft().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(o => o.exists(n.startsWith)) }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val results = queries.map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup: codegen + file-index costs land outside the trials
      name -> median((1 to trials).map(_ => once()))
    }
    def cs(v: Double): Double = math.round(v * 100) / 100.0
    val qs = results.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + cs(v)
    }.mkString("{", ",", "}")
    println(s"""{"queries":$qs,"sf":"$sfDir","trials":$trials,"sink":"noop","metric":"total","value":${cs(results.map(_._2).sum)},"unit":"sec"}""")
    spark.stop()
  }
}
