package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.bridge
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

  /** `body` with the session confs `kvs` set, each restored (or unset)
    * afterwards. */
  def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** `body` over inputs Spark reads in several splits: with 8 KiB splits
    * and open cost every sf0.001 fixture above 8 KiB is a multi-task
    * scan, as a fact table is at scale, so a plan guard sees the
    * exchanges of the at-scale plan (`graft.plans.PlanSingleSplitScans`
    * removes them over one-split inputs). */
  def withSplitInputs[T](body: => T): T =
    withConfs("spark.sql.files.maxPartitionBytes" -> "8192",
      "spark.sql.files.openCostInBytes" -> "8192")(body)

  /** `f`'s result and the number of Spark jobs it launched, counting only
    * jobs tagged with this call's local property (inherited by threads
    * `f` starts), so jobs of anything else in the JVM are not counted. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.jobTag") == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.jobTag", tag)
    try {
      val out = f
      bridge.drainListenerBus(spark)
      (out, jobs.get)
    } finally {
      sc.setLocalProperty("graft.spec.jobTag", null)
      sc.removeSparkListener(listener)
    }
  }
}
