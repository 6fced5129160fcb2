package graft.sources

import java.lang.ref.WeakReference
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** Pins `Tables.raw`'s schema and frame memos: a fixture table's schema
  * is inferred by one Spark job per (path, listing, parquet confs) and
  * then served with no job, it equals what a plain read infers, and a
  * rewritten file, a changed conf or a missing path never gets a stale
  * schema or frame; a frame is resolved once per key in the session's own
  * memo, which a new key replaces and which no other session sees. Every
  * test works on a fresh copy of the fixture, so its keys are cold and
  * the fixture itself is never written. */
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

  test("one resolved frame per session and key: a rewrite or a conf change resolves again") {
    val dir = freshCopy()
    val events = Tables.events(spark, dir)
    assert(Tables.events(spark, dir) eq events)
    val orders = Tables.raw(spark, dir, "orders")
    assert(Tables.raw(spark, dir, "orders") eq orders)
    // another session resolves its own frame and never gets this one
    val other = spark.newSession()
    val theirs = Tables.events(other, dir)
    assert(!(theirs eq events) && (theirs.sparkSession eq other))
    assert(Tables.events(other, dir) eq theirs)
    assert(Tables.events(spark, dir) eq events)
    // a changed parquet conf is a new frame, which replaces the table's
    // entry: the restored conf resolves again, to an equal frame
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, (!spark.conf.get(key).toBoolean).toString)
    try assert(!(Tables.raw(spark, dir, "orders") eq orders))
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val restored = Tables.raw(spark, dir, "orders")
    assert(!(restored eq orders) && restored.schema == orders.schema)
    assert(Tables.raw(spark, dir, "orders") eq restored)
    val orders2 = restored
    // a rewritten file (here: a new modification time) is a new frame
    val path = Paths.get(dir, "orders.parquet")
    Files.setLastModifiedTime(path,
      FileTime.fromMillis(Files.getLastModifiedTime(path).toMillis + 60000L))
    val rewritten = Tables.raw(spark, dir, "orders")
    assert(!(rewritten eq orders2))
    assert(rewritten.count() == orders.count())
  }

  test("a changed session time zone or ANSI mode resolves the events frame again") {
    val dir = freshCopy()
    val other = spark.newSession()
    val events = Tables.events(other, dir)
    Seq("spark.sql.session.timeZone" -> "America/New_York",
        "spark.sql.ansi.enabled" -> (!other.conf.get("spark.sql.ansi.enabled").toBoolean).toString)
      .foreach { case (k, v) =>
        val prev = other.conf.get(k)
        other.conf.set(k, v)
        try {
          val changed = Tables.events(other, dir)
          assert(!(changed eq events), k)
          assert(Tables.events(other, dir) eq changed, k)
        } finally other.conf.set(k, prev)
      }
  }

  /** Builds q161 (which builds on a session of its own) `n` times: a
    * weak reference to each build's session and that session's memo
    * size. Nothing else here keeps a build or its session. */
  private def q161Builds(dir: String, n: Int): Seq[(WeakReference[SparkSession], Int)] =
    (1 to n).map { _ =>
      val s = graft.SparkEntry.queries("q161_runtime_filter_join")(spark, dir).sparkSession
      (new WeakReference(s), SessionFrames.of(s).get.size)
    }

  test("a session's frame memo holds one frame per table; repeated q161 builds add none and pin no session") {
    val dir = freshCopy()
    val frames = SessionFrames.of(spark).get
    Tables.orders(spark, dir); Tables.lineitem(spark, dir)
    val before = frames.size
    val builds = q161Builds(dir, 3)
    assert(frames.size == before)
    assert(builds.map(_._2) == Seq(2, 2, 2), "orders and lineitem, once each")
    // a rewritten table replaces its entry instead of adding one
    val path = Paths.get(dir, "orders.parquet")
    Files.setLastModifiedTime(path,
      FileTime.fromMillis(Files.getLastModifiedTime(path).toMillis + 60000L))
    Tables.orders(spark, dir)
    assert(frames.size == before)
    // no JVM-wide memo holds a build's session
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (builds.exists(_._1.get != null) && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(100)
    }
    assert(builds.forall(_._1.get == null), "a q161 session is still reachable")
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
