package graft.tools

import org.apache.spark.sql.functions._
import graft.sources.{Tables, TempDirs}

/** q97 stage decomposition (optimization r19, guide §1): attribute the
  * compaction query's wall time to its three jobs — degenerate-layout
  * build (32-way tiny-file write), the compaction rewrite itself, and
  * the readback aggregation — steady state, 3 passes. Probe artifact.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.tools.Q97Probe"
  */
object Q97Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.Sessions.hostCpus
    val spark = graft.Sessions.graft(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def pass(): Map[String, Double] = {
      val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      def seg[T](name: String)(f: => T): T = {
        val t0 = System.nanoTime(); val r = f
        out(name) = (System.nanoTime() - t0) / 1e9; r
      }
      val tmp = TempDirs.create("graft_q97probe").toFile.getAbsolutePath
      val target = 600L
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 1e6).cast("long").as("value_micro"))
      seg("layout") {
        ev.repartition(32).write.partitionBy("event_type").parquet(s"$tmp/small")
      }
      seg("compact") {
        spark.read.parquet(s"$tmp/small")
          .repartition(col("event_type"))
          .write.option("maxRecordsPerFile", target)
          .partitionBy("event_type").parquet(s"$tmp/compacted")
      }
      seg("readback") {
        spark.read.parquet(s"$tmp/compacted")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("_metadata.file_path")).as("n_files"),
            sum("value_micro").as("sum_micro"))
          .orderBy("event_type").count()
      }
      out.toMap
    }
    val runs = (1 to 3).map(_ => pass())
    def j(m: Map[String, Double]) =
      m.map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")
    println(s"""{"probe":"q97","cpus":$cpus,"passes":[${runs.map(j).mkString(",")}]}""")
    spark.stop()
  }
}
