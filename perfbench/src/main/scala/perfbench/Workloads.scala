package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sources.PriceSink

/** One kind of request. `run` executes it once to a fully materialized
  * result, calling `built` between the layer call that builds the result
  * and its materialization. It returns a check failure, if any; with
  * `check` off (the timed phase) only checks that cost nothing extra run. */
abstract class Op(val name: String) {
  /** Untimed preparation of the next execution's inputs. */
  def prepare(): Unit = ()
  def run(built: () => Unit, check: Boolean): Option[String]
}

/** A registry query from `SparkEntry.queries`, materialized the way
  * `graft.Bench` does it (noop sink for the count-prunable queries, else
  * count). Its output is checked against the stored canonical digest. */
final class QueryOp(spark: SparkSession, name: String, dataDir: String,
                    expected: Option[Canon.Digest],
                    record: (String, Canon.Digest, DataFrame) => Unit) extends Op(name) {
  private val fn = SparkEntry.queries(name)

  def run(built: () => Unit, check: Boolean): Option[String] = {
    val df = fn(spark, dataDir)
    built()
    if (SparkEntry.noopSink(name)) df.write.mode("overwrite").format("noop").save()
    else df.count()
    if (!check) None
    else {
      val got = Canon.of(df)
      record(name, got, df)
      expected match {
        case None => Some(s"no expected digest stored for $name")
        case Some(e) if e != got => Some(s"output $got differs from expected $e")
        case _ => None
      }
    }
  }
}

/** Seeded generator of price batches in the shape of the reference ETL's
  * provider pulls: daily closes for a 407-ticker universe, each batch
  * re-pulling an overlapping window of days (revised closes on days
  * already pulled) and carrying duplicate keys within the batch. It also
  * models the sink, so every append and read has an expected answer. */
final class PriceFeed(seed: Long) {
  import PriceFeed.{step, tickers, window}
  private val rnd = new java.util.SplittableRandom(seed)
  private val names = (0 until tickers).map(i => f"T$i%03d.ST")
  private val start = java.time.LocalDate.of(2020, 1, 1)
  private var batchNo = 0

  /** (ticker, day) -> close of the rows stored so far. */
  val stored = scala.collection.mutable.HashMap.empty[(Int, Int), Double]
  private val latestStored = scala.collection.mutable.HashMap.empty[Int, (Int, Double)]

  def ticker(t: Int): String = names(t)
  def date(d: Int): java.time.LocalDate = start.plusDays(d.toLong)

  /** Next batch; `stored` then holds the rows an append must leave. */
  def next(): PriceFeed.Batch = {
    val k = batchNo; batchNo += 1
    val first = k * step
    val out = new java.util.ArrayList[Row]()
    val live = Map.newBuilder[String, Double]
    var novel = 0L
    for (t <- 0 until tickers) {
      val days = (first until first + window).filter(_ => rnd.nextDouble() < 0.97)
      days.foreach { d =>
        val base = math.round((20 + t % 200) * (1 + 0.3 * rnd.nextDouble()) * 100) / 100.0
        // a re-pulled day may come back revised; the sink keeps the first close
        val c = if (k > 0 && d < first + window - step) base + 0.01 * rnd.nextInt(3) else base
        val row = Row(names(t), java.sql.Date.valueOf(date(d)), c)
        out.add(row)
        if (d == days.last) live += names(t) -> c
        // duplicate keys: an exact copy on the ticker's latest day (the
        // read's live latest stays well defined), a higher close elsewhere
        // (appendDedup keeps the lowest close per key)
        if (rnd.nextDouble() < 0.05)
          out.add(if (d == days.last) row else Row(names(t), java.sql.Date.valueOf(date(d)), c + 0.5))
        if (!stored.contains((t, d))) {
          stored((t, d)) = c; novel += 1
          if (latestStored.get(t).forall(_._1 < d)) latestStored(t) = (d, c)
        }
      }
    }
    java.util.Collections.shuffle(out, new java.util.Random(rnd.nextLong()))
    val fromStore = latestStored.map { case (t, (_, c)) => names(t) -> c }.toMap
    PriceFeed.Batch(out, novel, fromStore ++ live.result())
  }
}

object PriceFeed {
  /** The reference universe's size; each batch starts `step` days after
    * the previous one and spans `window` days (the `period=5d` re-pull). */
  val tickers = 407
  val step = 3
  val window = 5

  /** Batch rows, the number of novel keys, and the latest close per
    * ticker a fallback read must return after the batch's append. */
  final case class Batch(rows: java.util.List[Row], novel: Long, latest: Map[String, Double])

  val schema: StructType = StructType(Seq(
    StructField("ticker", StringType, nullable = false),
    StructField("ts", DateType, nullable = false),
    StructField("close", DoubleType, nullable = false)))
}

/** The ETL dataflow: `PriceSink.appendDedup` of the next batch into a
  * month-partitioned table, and the fallback read
  * `latestWithFallback(batch, PriceSink.read(table))`, each checked
  * against the feed's model on every execution. */
final class Ingest(spark: SparkSession, val table: String, seed: Long) {
  private val feed = new PriceFeed(seed)
  private var pending: Option[(DataFrame, PriceFeed.Batch)] = None
  private var last: Option[(DataFrame, PriceFeed.Batch)] = None
  var offered, appended = 0L
  var appendNs = 0L

  val append: Op = new Op("append") {
    override def prepare(): Unit = {
      val b = feed.next()
      pending = Some((spark.createDataFrame(b.rows, PriceFeed.schema), b))
    }
    def run(built: () => Unit, check: Boolean): Option[String] = {
      val (df, b) = pending.getOrElse(throw new IllegalStateException("append without a batch"))
      pending = None
      built()
      val t0 = System.nanoTime()
      val n = PriceSink.appendDedup(spark, table, df)
      appendNs += System.nanoTime() - t0
      last = Some((df, b))
      offered += b.rows.size; appended += n
      if (n != b.novel) Some(s"appended $n rows, expected ${b.novel}") else None
    }
  }

  val read: Op = new Op("read") {
    def run(built: () => Unit, check: Boolean): Option[String] = {
      val (live, b) = last.getOrElse(throw new IllegalStateException("read before any append"))
      val df = PriceSink.latestWithFallback(live, PriceSink.read(spark, table))
      built()
      val got = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      if (got == b.latest) None
      else {
        val bad = (got.keySet ++ b.latest.keySet).filter(k => got.get(k) != b.latest.get(k))
        Some(s"latest close differs for ${bad.size} tickers, e.g. " +
          bad.take(3).map(k => s"$k: ${got.get(k)} vs ${b.latest.get(k)}").mkString(", "))
      }
    }
  }

  def storedRows: Long = feed.stored.size.toLong

  /** End-of-run table check: every stored key once, with its first close. */
  def verifyTable(): Option[String] = {
    if (feed.stored.isEmpty) return None
    val rows = PriceSink.read(spark, table).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate) -> r.getDouble(2))
    val got = rows.toMap
    val want = feed.stored.map { case ((t, d), c) => (feed.ticker(t), feed.date(d)) -> c }.toMap
    if (rows.length != got.size) Some(s"${rows.length - got.size} duplicate (ticker, ts) keys stored")
    else if (got != want) Some(s"stored ${got.size} rows, expected ${want.size}, or closes differ")
    else None
  }
}

object Workloads {
  val dashboard: Seq[String] = Seq("q01", "q02", "q03", "q04", "q05", "q06", "q07",
    "q08", "q09", "q10", "q11", "q12", "q13", "q14", "q15")
  val warehouse: Seq[String] = Seq("q02", "q05", "q06", "q07", "q15", "q69", "q107",
    "q108", "q129", "q160")
  val streaming: Seq[String] = Seq("q30", "q45", "q52", "q68", "q73", "q94", "q120")

  /** Typical seconds of one round (every kind once) on a 4-core host; a
    * run measures round(seconds / this) rounds, at least one. */
  val nominalRoundSeconds: Map[String, Double] = Map(
    "dashboard" -> 7.0, "streaming" -> 10.0, "ingest" -> 1.0, "warehouse" -> 12.0)

  /** Registry name for a short id such as "q07". */
  def registryName(id: String): String =
    SparkEntry.queries.keys.find(_.takeWhile(_ != '_') == id)
      .getOrElse(throw new IllegalArgumentException(s"no registry query $id"))
}
