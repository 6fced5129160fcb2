package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession
  * (getOrCreate) from the engine's own builder, local[4]. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.graft("4")
    .appName("graft-test")
    // FAIR so ConcurrentServingSpec can exercise multi-tenant pools
    // (scheduler mode is fixed at context creation); single-query
    // suites are unaffected — one pool, one job at a time
    .config("spark.scheduler.mode", "FAIR")
    .getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
