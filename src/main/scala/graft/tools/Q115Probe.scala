package graft.tools

import org.apache.spark.sql.functions._

/** q115 stage decomposition (optimization r19): attribute the query's
  * wall time to store-read / loop / final-join segments at a given
  * core count, steady state (2 passes; the first pays the derived
  * store build). Probe artifact — prints one JSON line, never touches
  * bench/last_bench.json.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.tools.Q115Probe"
  */
object Q115Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.Sessions.hostCpus
    val spark = graft.Sessions.graft(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.queries.AnalyticsQueries
    def segTimes(): Map[String, Double] = {
      val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      def seg[T](name: String)(f: => T): T = {
        val t0 = System.nanoTime(); val r = f
        out(name) = (System.nanoTime() - t0) / 1e9; r
      }
      val files = seg("files")(
        AnalyticsQueries.q115AdjacencyFiles(spark, sfDir))
      val loopParts = spark.conf.getOption("graft.q115.loopPartitions")
        .map(_.toInt).getOrElse(1)
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
      try {
        val adj = seg("adj_cut")(spark.read.parquet(files: _*)
          .repartition(loopParts, col("u"))
          .transform(graft.operators.Lineage.truncateKeepPartitioning))
        val nodes = adj.select(col("u").as("node"))
        var rank = seg("rank_init")(
          nodes.select(col("node"), lit(1000000L).as("rank_micro"))
            .transform(graft.operators.Lineage.truncateKeepPartitioning))
        seg("loop5") {
          for (_ <- 1 to 5) {
            val contrib = adj
              .join(rank.select(col("node").as("u"), col("rank_micro"))
                .hint("SHUFFLE_HASH"), "u")
              .select(explode(col("vs")).as("node"),
                expr("rank_micro div size(vs)").as("c"))
              .groupBy("node").agg(sum("c").as("sumc"))
            rank = nodes
              .join(contrib.hint("SHUFFLE_HASH"), Seq("node"), "left")
              .select(col("node"),
                (lit(150000L) + expr("(850000 * coalesce(sumc, 0)) div 1000000"))
                  .as("rank_micro"))
              .transform(graft.operators.Lineage.truncateKeepPartitioning)
          }
        }
        seg("final") {
          adj.select(col("u").as("node"), size(col("vs")).as("deg"))
            .join(rank.hint("SHUFFLE_HASH"), "node")
            .select(col("node").as("l_partkey"), col("deg"), col("rank_micro"))
            .orderBy("l_partkey")
            .count()
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      out.toMap
    }
    val cold = segTimes()
    val warm1 = segTimes()
    val warm2 = segTimes()
    def j(m: Map[String, Double]) =
      m.map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")
    println(s"""{"probe":"q115","cpus":$cpus,"cold":${j(cold)},""" +
      s""""warm1":${j(warm1)},"warm2":${j(warm2)}}""")
    spark.stop()
  }
}
