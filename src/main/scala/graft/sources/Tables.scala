package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers over the driver-generated star schema (TESTDATA.md) plus the
  * semantic views that re-express the reference's data model
  * (ref: /root/reference/src/etl.py:51-58 `prices`,
  * /root/reference/app/services/db.py:40-49 `trades`) on top of it.
  *
  * Scale notes: every reader is a plain parquet scan — Catalyst pushes
  * filters/projections down to the scan, so callers should never
  * pre-materialize. The `events` table's `ts` physical type has drifted
  * across testdata generations (int64 nanoseconds in some, parquet
  * `timestamp[us]` / TIMESTAMP_NTZ in others), so ingestion is
  * SCHEMA-ADAPTIVE: [[normalizeTs]] inspects what the scan yields and
  * normalizes to a microsecond TIMESTAMP — the same value DuckDB's
  * TIMESTAMP sees for either layout, which keeps the oracle comparable.
  * A production lake faces exactly this (upstream writers change
  * timestamp encodings); pinning one physical type is a latent outage.
  *
  * Schemas: a plain `spark.read.parquet` infers its schema with a Spark
  * job that reads the file footers, and the dashboard re-reads the same
  * immutable tables on every request. [[raw]] infers each table's schema
  * once per (path, listing, parquet confs) and reads with it, so
  * building a query launches no job. Any rewritten file or changed conf
  * is a new key and is inferred again.
  */
object Tables {

  /** Spark-conf ceiling for [[dimBroadcast]], bytes. */
  val DimBroadcastMaxBytesKey = "graft.join.dimBroadcastMaxBytes"

  /** Broadcast hint that scales itself — the q139 pattern, generalized.
    *
    * An unconditional `broadcast(customer)` is right at bench scale
    * and wrong at 100 TB, where customer is ~15B rows: the hint
    * OVERRIDES Spark's size checks, so the build side OOMs instead of
    * falling back. This helper hints only while the frame's LARGEST
    * LEAF SCAN statistic (parquet footers — metadata, no job) is under
    * `graft.join.dimBroadcastMaxBytes` (default 512 MiB). Leaf stats,
    * not plan-output stats, because dim CHAINS (supplier⋈nation⋈region)
    * carry multiplied join estimates that over-project by orders of
    * magnitude while the true output is bounded by the scan; for the
    * same reason this helper is only for frames whose ROW COUNT scales
    * with the corpus (sf-scaling dims, per-key aggregates over them) —
    * provably bounded frames (singleton aggregates, fixed dims like
    * nation/region, k-limited tops) keep their unconditional hints.
    * When the hint is declined at small scale, AQE's runtime-measured
    * broadcast conversion usually restores the same physical join;
    * when it is declined at 100 TB, that IS the correct plan. */
  def dimBroadcast(df: DataFrame): DataFrame = {
    val ceiling = df.sparkSession.conf.getOption(DimBroadcastMaxBytesKey)
      .map(_.toLong).getOrElse(512L << 20)
    // analyzed, not optimizedPlan: leaf scans carry their footer stats
    // already at analysis time, and skipping the optimizer pass keeps
    // the decision at ~10 ms instead of ~100+ (it runs per plan build)
    val maxLeaf = df.queryExecution.analyzed.collectLeaves()
      .map(_.stats.sizeInBytes)
      .foldLeft(BigInt(0))(_ max _)
    if (maxLeaf < BigInt(ceiling)) broadcast(df) else df
  }

  /** A fixture table, read with its memoized schema (see `schemas`). */
  def raw(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    schemaKey(spark, path) match {
      case Some(key) =>
        spark.read.schema(schemas.once(key)(spark.read.parquet(path).schema)).parquet(path)
      // missing or empty: the plain read raises its usual error
      case None => spark.read.parquet(path)
    }
  }

  /** (table path, listing, parquet confs) -> the schema a plain
    * `spark.read.parquet` infers (a job: `SchemaMergeUtils
    * .mergeSchemasInParallel` reads the footers). The listing is (path,
    * length, modification time) of every file under the table, and the
    * confs are every set `spark.sql.parquet.*` and
    * `spark.sql.legacy.parquet.*` key plus `spark.sql.caseSensitive`:
    * the inputs that decide what inference returns. A rewritten or added
    * file, or a changed conf, is a new key and infers again, so a stale
    * schema is never served; there is nothing else to check on a hit. */
  private type SchemaKey = (String, Seq[(String, Long, Long)], Seq[(String, String)])

  private val schemas = Scaffold.values[SchemaKey, StructType]

  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] = {
    val p = new Path(path)
    val listing = try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // listStatus, not listFiles: a LocatedFileStatus copies each file's
      // permission, which the local filesystem reads by forking `ls`
      def files(dir: Path): Seq[(String, Long, Long)] = fs.listStatus(dir).toSeq.flatMap { f =>
        if (f.isDirectory) files(f.getPath)
        else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      files(p).sorted
    } catch { case _: IOException => Nil }
    if (listing.isEmpty) None
    else {
      val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }.sorted :+ ("spark.sql.caseSensitive" -> spark.conf.get("spark.sql.caseSensitive"))
      Some((path, listing, confs))
    }
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = raw(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = raw(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = raw(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = raw(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = raw(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = raw(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame   = raw(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = raw(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = raw(spark, sfDir, "embeddings")

  /** Spark-read schema of the raw events table, with nano-precision
    * int64 surfaced as LongType (never an analysis error). Streaming
    * readers need this explicitly — a file stream source requires a
    * user-supplied schema. */
  def eventsRawSchema(spark: SparkSession, sfDir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw(spark, sfDir, "events").schema
  }

  /** Event-time sanity window. Any unit mix-up between timestamp
    * encodings (micros read as nanos, nanos read as micros, seconds as
    * millis) shifts values ~1000× — far outside any plausible event
    * time — so normalization fails LOUDLY instead of letting an
    * interval join silently near-cross-product on collapsed
    * timestamps (wrong-not-loud is the worst failure class at 100 TB:
    * nothing errors, state explodes, answers are garbage). */
  val SaneTsLo = "1990-01-01 00:00:00"
  val SaneTsHi = "2100-01-01 00:00:00"

  /** Normalize the `ts` column to a microsecond TIMESTAMP regardless of
    * the stored physical type:
    *  - int64 (nanos read via `nanosAsLong`) → truncate to micros;
    *  - TIMESTAMP_NTZ (parquet `timestamp[us]`, isAdjustedToUTC=false)
    *    → reinterpret as UTC instant (session tz is pinned to UTC
    *    everywhere, so the wall clock is preserved bit-for-bit);
    *  - TIMESTAMP → already normalized.
    * Then guard every non-null value against [[SaneTsLo]]/[[SaneTsHi]]
    * via `raise_error` — a codegen'd per-row branch (two long compares)
    * that turns a silent unit collapse into an immediate failure.
    * Works on batch and streaming DataFrames alike. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, TimestampType, TimestampNTZType}
    val norm = df.schema("ts").dataType match {
      // epoch longs: unit (s/ms/us/ns) inferred per row from disjoint
      // sanity windows — heals the exact misread of round 10
      case LongType         => AdaptiveRead.epochToTs("ts")
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      // ISO-8601 strings (a CSV/JSON feed of the same events): ANSI
      // cast throws on malformed input — loud, like the range guard
      case StringType       => to_timestamp(col("ts"))
      case _                => col("ts").cast(TimestampType)
    }
    val lo = lit(SaneTsLo).cast(TimestampType)
    val hi = lit(SaneTsHi).cast(TimestampType)
    df.withColumn("ts",
      when(norm.isNull || (norm >= lo && norm < hi), norm)
        .otherwise(raise_error(concat(
          lit(s"events.ts outside sane range [$SaneTsLo, $SaneTsHi): "),
          norm.cast("string"),
          lit(" — suspected timestamp unit mix-up at the source")))))
  }

  /** events with `ts` as a microsecond-truncated timestamp (matches
    * DuckDB), whichever physical type the parquet carries. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(raw(spark, sfDir, "events"))
  }

  /** The reference's `trades` ledger (db.py:40-49) re-expressed over
    * `lineitem`: suppkey plays `user`, partkey plays `ticker`, shipdate
    * plays the trade date, returnflag R = SELL else BUY, unit price is
    * derived. `id` is the intra-day ordering tie-breaker (portfolio.py:23);
    * (l_orderkey, l_linenumber) is not unique in the synthetic data, so
    * consumers must tie-break with the full row (identical rows commute
    * through every fold, so that is safe).
    */
  def trades(spark: SparkSession, sfDir: String): DataFrame =
    lineitem(spark, sfDir).select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
      col("l_suppkey").as("user_id"),
      col("l_partkey").as("ticker"),
      to_date(col("l_shipdate")).as("ts"),
      when(col("l_returnflag") === "R", lit("SELL")).otherwise(lit("BUY")).as("side"),
      col("l_quantity").as("qty"),
      (col("l_extendedprice") / col("l_quantity")).as("price"),
      col("l_discount").as("fee"))

  /** SQL mirror of [[trades]] for the DuckDB oracle. */
  val tradesSql: String =
    """trades AS (
      |  SELECT l_orderkey*10 + l_linenumber AS id,
      |         l_suppkey AS user_id,
      |         l_partkey AS ticker,
      |         CAST(l_shipdate AS DATE) AS ts,
      |         CASE WHEN l_returnflag='R' THEN 'SELL' ELSE 'BUY' END AS side,
      |         l_quantity AS qty,
      |         l_extendedprice/l_quantity AS price,
      |         l_discount AS fee
      |  FROM lineitem)""".stripMargin

  /** The reference's `prices` series (etl.py:51-58) re-expressed over
    * `events`: event_type plays `ticker`, `value` plays `close`.
    */
  def prices(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir).select(
      col("event_type").as("ticker"),
      col("ts"),
      col("value").as("close"),
      col("event_id"))

  val pricesSql: String =
    """prices AS (
      |  SELECT event_type AS ticker, ts, value AS close, event_id
      |  FROM events)""".stripMargin

  /** The reference's `watchlist` table (db.py:51-56) — schema-only
    * surface there (never queried); declared here so a user migrating
    * holds the same shape. UNIQUE(user, ticker) becomes dedup-on-write
    * (the engine's standard idempotent-load contract, see
    * [[graft.queries.EtlQueries.dedupMerge]]). */
  val watchlistSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("ticker", org.apache.spark.sql.types.StringType, nullable = false)))

  /** Schema-stable empty watchlist (same contract as
    * [[UniverseCsv.emptyUniverse]]). */
  def emptyWatchlist(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], watchlistSchema)

  /** Daily close per ticker: last observation in each day, tie-broken by
    * event_id (ref semantic: prices are daily closes; here derived).
    */
  def dailyPrices(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("ticker"), to_date(col("ts")))
      .orderBy(col("ts").desc, col("event_id").desc)
    prices(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("ticker"), to_date(col("ts")).as("ts"), col("close"))
  }

  val dailyPricesSql: String =
    """daily AS (
      |  SELECT ticker, d AS ts, close FROM (
      |    SELECT event_type AS ticker, CAST(ts AS DATE) AS d, value AS close,
      |           row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1)""".stripMargin
}
