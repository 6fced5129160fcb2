package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.UUID
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** Pins `Tables.raw`'s schema memo: a fixture table's schema is
  * inferred by one Spark job per (path, listing, parquet confs) and then
  * served with no job, it equals what a plain read infers, and a
  * rewritten file, a changed conf or a missing path never gets a stale
  * schema. Every test works on a fresh copy of the fixture, so its keys
  * are cold and the fixture itself is never written. */
class TableSchemaSpec extends SparkSpec {

  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  /** A fresh copy of the sf0.001 fixture under the run's temp root. */
  private def freshCopy(): String = {
    val dir = TempDirs.create("graft_spec_schema")
    tables.foreach(t => Files.copy(
      Paths.get(sf(), s"$t.parquet"), dir.resolve(s"$t.parquet")))
    dir.toString
  }

  /** `f`'s result and the number of Spark jobs it launched, counting only
    * jobs tagged with this call's local property (inherited by threads
    * `f` starts), so jobs of anything else in the JVM are not counted. */
  private def jobsDuring[T](f: => T): (T, Int) = {
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

  test("the first events read on a fresh copy launches 1 job, the second 0") {
    val dir = freshCopy()
    assert(jobsDuring(Tables.events(spark, dir))._2 == 1)
    assert(jobsDuring(Tables.events(spark, dir))._2 == 0)
  }

  test("the memoized schema equals a fresh inference for all ten tables") {
    val dir = freshCopy()
    tables.foreach { t =>
      val fresh = spark.read.parquet(s"$dir/$t.parquet").schema
      assert(Tables.raw(spark, dir, t).schema == fresh, t)
      val (hit, jobs) = jobsDuring(Tables.raw(spark, dir, t).schema)
      assert(hit == fresh && jobs == 0, t)
    }
  }

  test("a rewritten events file is inferred again and reads the same rows") {
    val dir = freshCopy()
    val path = Paths.get(dir, "events.parquet")
    def sorted(df: DataFrame) = df.orderBy(df.columns.map(col): _*).collect().toSeq
    val before = Tables.raw(spark, dir, "events").schema
    val rows = sorted(Tables.events(spark, dir))
    val oldTime = Files.getLastModifiedTime(path)
    // flip the physical layout of ts: int64 nanos <-> timestamp[us]
    val raw = spark.read.parquet(path.toString)
    val flipped = raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ => raw.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
    val staged = TempDirs.create("graft_spec_rewrite")
    flipped.coalesce(1).write.mode("overwrite").parquet(s"$staged/t")
    val part = Files.list(staged.resolve("t")).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, path, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(path,
      FileTime.fromMillis(oldTime.toMillis + 60000L))
    TempDirs.deleteRecursively(staged)

    val after = Tables.raw(spark, dir, "events").schema
    assert(after == spark.read.parquet(path.toString).schema)
    assert(after("ts").dataType != before("ts").dataType,
      "the rewrite must be read with its new schema, not the memoized one")
    val uncached = sorted(Tables.normalizeTs(spark.read.parquet(path.toString)))
    val cached = sorted(Tables.events(spark, dir))
    assert(cached == uncached)
    assert(cached == rows, "either layout normalizes to the same events")
  }

  test("changing a parquet conf in the key infers again") {
    val dir = freshCopy()
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getAll.get(key) // set explicitly, not the default
    Tables.raw(spark, dir, "orders")
    assert(jobsDuring(Tables.raw(spark, dir, "orders"))._2 == 0)
    spark.conf.set(key, (!spark.conf.get(key).toBoolean).toString)
    try assert(jobsDuring(Tables.raw(spark, dir, "orders"))._2 == 1)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(jobsDuring(Tables.raw(spark, dir, "orders"))._2 == 0,
      "the restored conf is the first key again")
  }

  test("a missing table throws the same error as a plain read") {
    val dir = TempDirs.create("graft_spec_missing").resolve("absent")
    def condition(t: Throwable): Option[String] = t match {
      case s: SparkThrowable => Option(s.getCondition)
      case _ => None
    }
    val plain = intercept[Exception](spark.read.parquet(s"$dir/events.parquet"))
    val viaTables = intercept[Exception](Tables.events(spark, dir.toString))
    assert(viaTables.getClass == plain.getClass)
    assert(condition(viaTables) == condition(plain))
    assert(condition(viaTables).contains("PATH_NOT_FOUND"))
  }

  test("8 cold callers released together launch exactly 1 job") {
    val dir = freshCopy()
    val fresh = spark.read.parquet(s"$dir/lineitem.parquet").schema
    val (schemas, jobs) = jobsDuring {
      val pool = Executors.newFixedThreadPool(8)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val gate = new CountDownLatch(1)
      try {
        val futs = (0 until 8).map(_ =>
          Future { gate.await(); Tables.raw(spark, dir, "lineitem").schema })
        gate.countDown()
        Await.result(Future.sequence(futs), 2.minutes)
      } finally pool.shutdownNow()
    }
    assert(jobs == 1)
    assert(schemas.forall(_ == fresh))
  }
}
