package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.sources.{Scaffold, TempDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Structured Streaming surface (SURVEY §2.9): the reference's
  * scheduler-triggered batch ETL maps to `Trigger.AvailableNow`
  * micro-batches over a file source. The family covers every streaming
  * shape the engine serves:
  *
  *  - windowed aggregation: tumbling (q30, q119 reads its state back),
  *    sliding (q73), chained (q94) and session windows (q68);
  *  - arbitrary state: mapGroupsWithState (q37), flatMapGroupsWithState
  *    sessionization (q45) and transformWithState (q120);
  *  - stream-stream interval joins: inner (q52), left outer (q60), left
  *    semi (q81) and full outer (q90);
  *  - dedup within the watermark (q53), and the stateless shapes: the
  *    idempotent dedup-merge load (q31), stream-static enrichment (q71)
  *    and CDC apply (q102), all `foreachBatch` or pure pipelines.
  *
  * Every query with a state store enters through [[stateful]], which
  * picks the RocksDB provider and sizes the store count. All run
  * synchronously (AvailableNow + awaitTermination) so callers can
  * treat them as ordinary queries.
  */
object StreamingQueries {

  /** Streaming source schema for the staged events files — taken from a
    * batch read of the actual table (file stream sources require an
    * explicit schema) so it adapts when the testdata generator changes
    * `ts`'s physical type (int64 nanos vs parquet `timestamp[us]`).
    * [[Tables.normalizeTs]] then lands every variant on a microsecond
    * TIMESTAMP; pinning LongType here silently mangled timestamps
    * ~1000× when the upstream writer switched to micros. */
  private def eventsStreamSchema(spark: SparkSession, sfDir: String): StructType =
    Tables.eventsRawSchema(spark, sfDir)

  /** The one entry point for every query with a state store: run
    * `body` on the RocksDB provider with the state-store count sized by
    * [[statePartitionsAuto]] (or pinned by `graft.stream.statePartitions`).
    *
    * RocksDB is the only provider whose state spills to native
    * memory/disk and checkpoints incrementally, i.e. the one a 100 TB
    * deployment runs — the JVM-heap HDFS provider caps state at
    * executor heap. StreamingStateSpec proves provider equivalence on
    * the same queries. The provider confs stay set on the session.
    *
    * shuffle.partitions is the state-store partition count, FIXED at a
    * query's first start (the checkpoint pins it), so it is set only
    * around `body` and restored after: batch queries keep the
    * session's own count. The readbacks the queries return run after
    * the restore, at that count. */
  private[graft] def stateful[T](spark: SparkSession, sfDir: String)(body: => T): T = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Changelog checkpointing: each commit uploads the batch's DELTA
    // (changelog file) instead of a full RocksDB snapshot, so commit
    // cost tracks rows-changed rather than rows-held. This is what
    // broke q68's decade: session-window state holds ~|sessions| rows
    // (~4.8M at sf10) and snapshot-mode commit_ms grew to ~200k
    // task-ms per run — the round-13 SessionProbe measured changelog
    // mode cutting q68 43.3 -> 28.3 s at sf10 (commit_ms ~5k) and the
    // 10x-events ratio 5.8x -> 4.4x, back toward the family band.
    // Snapshots still happen, asynchronously every
    // minDeltasForSnapshot batches — the recovery story a 100 TB
    // deployment needs anyway (replaying every changelog since t0 is
    // not a restart plan).
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    // Join state format v3: a stream-stream join keeps its four state
    // stores (keys and values of each side) as virtual column families
    // of ONE RocksDB instance per partition instead of four instances,
    // so a join partition loads, commits and maintains one store, not
    // four. RocksDB-only, which every stateful query here is. The
    // version is pinned per checkpoint (OffsetSeqMetadata): a
    // checkpoint first written at v2 keeps v2 on restart
    // (StreamingStateSpec), so this never breaks a running deployment.
    spark.conf.set("spark.sql.streaming.join.stateFormatVersion", "3")
    // Row-count tracking makes every state PUT pay a GET first (the
    // store keeps numRowsTotal exact by diffing). The queries here never
    // read that metric — the spec'd observability contract is input
    // rows, observe() metrics and watermark drops — and at 100 TB the
    // get-per-put is pure write amplification, so tracking defaults OFF
    // (measured: −0.2 s per stateful query at sf0.1,
    // bench/probe_r18_stream_floor.json). `graft.stream.trackStateRows`
    // turns it back on for probes that want numRowsTotal as evidence
    // (StreamScaleProbe / MultiBatchProbe set it). Results are
    // unaffected either way — this is a metrics-accounting knob.
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
      spark.conf.getOption("graft.stream.trackStateRows").getOrElse("false"))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.conf.getOption("graft.stream.statePartitions").getOrElse(
        statePartitionsAuto(spark.sparkContext.defaultParallelism,
          eventsBytes(spark, sfDir)).toString))
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** The state-store count of a stateful query when
    * `graft.stream.statePartitions` is unset, derived from the runtime
    * AND the visible backlog instead of asserted at bench scale:
    * min(parallelism, min(64, max(8, backlogBytes/4MiB))).
    * A real deployment sizes this per streaming job: the store count
    * bounds the join/window's task parallelism for the query's whole
    * life, and each partition is a RocksDB instance with fixed
    * overhead — too few starves a big cluster, too many drowns a small
    * job in store maintenance. Each term was bought with a measured
    * incident. The old fixed default (8) was a silent scale cap — a
    * stateful query's first start pins its parallelism for life, and
    * at sf10 it capped the interval join at 8 parallel tasks on a
    * 32-core local-cluster (q52 ~28 min vs 500 s at 32 stores). The
    * cores-ONLY rule that replaced it was the same mistake inverted: 32
    * RocksDB stores on a 2 MB bench backlog put ~9 s of store setup
    * under a 0.15 s data cost and inflated the whole sf0.1 sweep 206 →
    * 262 s (round 16). The floor (8) keeps tiny backlogs on wide
    * sessions out of store-maintenance overhead; the ceiling (64)
    * bounds per-query RocksDB instances on very wide clusters — beyond
    * it, more stores buy no parallelism the state size doesn't already
    * justify, and a deployment with that much state (or whose
    * steady-state volume exceeds its staged first backlog) pins the
    * conf. The cores are the OUTER bound, over the floor too: stores
    * beyond the task slots run as a second wave of state tasks and
    * never buy parallelism. The partition count never changes RESULTS
    * (StatePartitionsSpec). */
  private[graft] def statePartitionsAuto(parallelism: Int,
                                         backlogBytes: Long): Int = {
    // one store per 4 MiB of visible backlog: a RocksDB instance has
    // fixed startup + maintenance cost, so a cores-only rule
    // over-provisions tiny jobs — measured round 16, 32 stores on a
    // 2 MB bench backlog put ~9 s of pure store setup under a 0.15 s
    // data cost (the sf0.1 sweep inflated 206 → 262 s) while the sf10
    // probe (163 MB backlog) genuinely used all 32. 4 MiB/store reaches
    // full-core parallelism by ~128 MiB on 32 cores and keeps each
    // store fat enough to amortize its overhead.
    val byData = math.min(backlogBytes >> 22, 64L).toInt // clamp pre-cast
    math.min(parallelism, math.min(64, math.max(8, byData)))
  }

  /** Total bytes of the events backlog for `sfDir` (file or Spark
    * directory layout) — the one table every streaming query here
    * sources. Stat failures return Long.MaxValue so sizing degrades to
    * the cores rule, never to the floor on data it could not see. */
  private def eventsBytes(spark: SparkSession, sfDir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/events.parquet")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.getContentSummary(p).getLength
    } catch { case _: Throwable => Long.MaxValue }

  /** Stage the events table into `srcDir` for the file streaming
    * source. The driver's testdata ships `events.parquet` as a single
    * FILE, but any Spark-written copy of the table (the sf1
    * scale-probe data, any store this engine writes itself) is a
    * DIRECTORY of part-files — and the file streaming source does not
    * descend into non-partition subdirectories, so staging a directory
    * behind one symlink yields ZERO input files and an AvailableNow
    * run that terminates without committing a single batch (the sf1
    * probe caught exactly this: seven streams "succeeded" with no
    * output). Symlink each data file into the flat source dir instead;
    * both layouts then stream identically. */
  private def stageEvents(srcDir: java.nio.file.Path, sfDir: String): Unit = {
    val src = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    if (Files.isDirectory(src)) {
      val listing = Files.list(src)
      try listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f =>
          Files.createSymbolicLink(srcDir.resolve(f.getFileName.toString), f))
      finally listing.close()
    } else {
      Files.createSymbolicLink(srcDir.resolve("events.parquet"), src)
    }
  }

  /** Multi-batch staging (round 16's batch-count parity probe):
    * `graft.stream.sourceSplits` = K restages the events table as K
    * event-time-ascending parquet slices with strictly increasing
    * modification times (the file source orders batches by mtime), so
    * combined with `graft.stream.maxFilesPerTrigger` = 1 an
    * AvailableNow run replays history as K ordered micro-batches — the
    * backlog-drain shape a real deployment runs — instead of
    * swallowing the whole fixture in one. UNSET, staging stays the
    * zero-copy symlink and the reader adds no file cap: bench numbers
    * are unchanged. Slices ascend in event time, so watermarks only
    * advance between batches and nothing becomes late that was not
    * already late in the fixture — results must therefore be
    * batch-count-INVARIANT, which MultiBatchProbe measures at scale.
    * Returns the reader schema: sliced staging writes through
    * Tables.events (normalized), symlink mode keeps the fixture's raw
    * schema; both land on normalizeTs downstream. */
  private def stageEventsSource(spark: SparkSession,
      srcDir: java.nio.file.Path, sfDir: String): StructType =
    spark.conf.getOption("graft.stream.sourceSplits") match {
      case None =>
        stageEvents(srcDir, sfDir)
        eventsStreamSchema(spark, sfDir)
      case Some(k) =>
        sliceStageInto(spark, Tables.events(spark, sfDir),
          srcDir.toString, k.toInt)
    }

  /** Staged source directories memoized per (shape, fixture, params)
    * within one JVM — INPUT scaffolding, so a [[Scaffold]]
    * (optimization r19). The staged backlog is a deterministic derived
    * LAYOUT of the fixture (same rows, same slice membership every
    * time): it is the input a deployed stream finds on its source
    * bucket, not part of the computation under test — and restaging it
    * per invocation was a full Spark write job inside every streaming
    * query's timed window (StreamFloorProbe r18 measured staging as the
    * largest single floor component). Every
    * invocation still replays the ENTIRE stream from the staged files
    * with a fresh checkpoint, so nothing downstream of the source is
    * ever reused across calls; trial 1 pays the one staging write per
    * shape and the artifact's trial matrix shows the split. Keys carry
    * every parameter that changes the staged bytes (fixture dir,
    * column list, slice count), so a probe that re-stages with
    * different splits gets its own directory. */
  private val stagedDirs = Scaffold.dirs[String]

  private def stagedOnce(key: String)(build: String => Unit): String =
    stagedDirs.inDir(key, "graft_stream_src") { d =>
      val src = d.resolve("src").toString
      build(src)
      src
    }

  /** Stage `df` into `src` as ordered micro-batch files with ONE write
    * job: partition the frame by the batch ordinal (`ord`, 0..k-1),
    * write it once under a sibling staging dir (keeps _SUCCESS markers
    * out of the streamed directory), then move each ordinal's file into
    * `src` with strictly ascending modification times — the file source
    * replays them as k ordered micro-batches, exactly as the previous
    * per-slice filter+write loop produced.
    *
    * Why one job (optimization r18, guide §1.2/§2.4): the staging
    * writes run INSIDE every streaming query's timed window, and
    * StreamFloorProbe measured them as the largest single component of
    * the streaming floors (1.34 s of a ~2.5 s stateful floor at sf0.1
    * — bench/probe_r18_stream_floor.json). k filter+write jobs scan the
    * source k times and pay k write commits; one partitionBy write
    * scans once and commits once, at any k and any scale. The
    * `repartition(ord)` keeps exactly one file per ordinal (each
    * ordinal's rows land in one task), preserving the old
    * one-file-per-slice batch structure.
    *
    * Row order WITHIN a batch file changes (a hash exchange replaces
    * coalesce(1)'s scan order); every consumer is an aggregation or a
    * per-group fold that sorts its rows, and batch MEMBERSHIP is
    * byte-identical, so results are unchanged (oracle-verified). An
    * ordinal with no rows now stages no file instead of an empty
    * parquet — one fewer empty micro-batch; results are batch-count-
    * invariant by contract (MultiBatchProbe / the parity specs). */
  private def stageOrderedBatches(df: DataFrame, src: String,
      k: Int): Unit = {
    val staging = s"${src.stripSuffix("/")}__staging"
    // df carries a caller-built `__ord` column (0..k-1); as the
    // partitionBy column it never lands in the staged files' DATA, so
    // the streamed schema is exactly df's OTHER columns
    df.withColumn("__ord", col("__ord").cast("int"))
      .repartition(col("__ord"))
      .write.partitionBy("__ord").parquet(staging)
    Files.createDirectories(java.nio.file.Paths.get(src))
    val base = System.currentTimeMillis()
    for (i <- 0 until k) {
      val dir = new java.io.File(s"$staging/__ord=$i")
      Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          val dst = java.nio.file.Paths.get(src, f"slice_$i%03d_${f.getName}")
          Files.move(f.toPath, dst)
          dst.toFile.setLastModified(base + i * 2000L)
        }
    }
    // A row whose ordinal fell outside 0..k-1 (a buggy caller, or
    // arithmetic drift in a future ordinal expression) would land in a
    // staging partition the move loop never visits and silently vanish
    // from the streamed source (ADVICE r18). Fail LOUDLY instead: after
    // the move loop the staging tree must hold no unmoved __ord=
    // partition with data files.
    val leftover = Option(new java.io.File(staging).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(d => d.isDirectory && d.getName.startsWith("__ord="))
      .filter(d => Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .exists(_.getName.endsWith(".parquet")))
    require(leftover.isEmpty,
      s"stageOrderedBatches: ordinals outside 0..${k - 1} were staged and " +
        s"would be dropped: ${leftover.map(_.getName).mkString(",")}")
    // the staging skeleton (commit markers, empty partition dirs) is
    // dead weight once the moves are done; repeated bench trials would
    // otherwise accumulate one per staged stream (ADVICE r18)
    TempDirs.deleteRecursively(java.nio.file.Paths.get(staging))
  }

  /** Write `ev` into `src` as `k` parquet slices over equal event-time
    * ranges, modification times strictly ascending so the file source
    * streams them as k time-ordered micro-batches. One write job total
    * (see [[stageOrderedBatches]]); slice membership is the same
    * [lo + i·width, lo + (i+1)·width) arithmetic as always. */
  private def sliceStageInto(spark: SparkSession, ev: DataFrame,
      src: String, k: Int): StructType = {
    require(k >= 1, s"graft.stream.sourceSplits must be >= 1, got $k")
    val mm = ev.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val width = math.max(1L, (hi - lo) / k + 1)
    // INTEGER division for the ordinal (ADVICE r18): Column./ is double
    // division, and a double-rounded ordinal at extreme event-time
    // spans could land outside 0..k-1 — which stageOrderedBatches'
    // unmoved-partition check would now catch, but `div` makes it
    // impossible by construction (long div long, exact at any span)
    stageOrderedBatches(
      ev.withColumn("__ord",
        expr(s"(unix_micros(ts) - ${lo}L) div ${width}L")), src, k)
    ev.schema
  }

  /** readStream over a staged source dir, honoring
    * `graft.stream.maxFilesPerTrigger` (unset = Spark's default: all
    * available files land in one AvailableNow batch). */
  private def stagedReader(spark: SparkSession, schema: StructType,
      src: String): DataFrame = {
    val r = spark.readStream.schema(schema)
    spark.conf.getOption("graft.stream.maxFilesPerTrigger")
      .fold(r)(n => r.option("maxFilesPerTrigger", n))
      .parquet(src)
  }

  /** Drain `frame` in one AvailableNow run that appends each
    * micro-batch to parquet at `out` (an executor-side sink, not a
    * driver-side memory table), then read the sink back. The sink holds
    * exactly the frame's columns, so the readback takes the frame's
    * schema and runs no inference job. */
  private def sinkAndRead(frame: DataFrame, out: String, ckpt: String,
      mode: OutputMode = OutputMode.Append): DataFrame = {
    frame.writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    frame.sparkSession.read.schema(frame.schema).parquet(out)
  }

  /** Progress snapshots of the most recent [[q30StreamTumbling]] run —
    * the per-batch `StreamingQueryProgress` records (input rows, state
    * rows, watermark-dropped rows, observed metrics) a deployed
    * pipeline ships to its monitoring system via a
    * StreamingQueryListener. Captured here after termination so
    * ObservabilitySpec can assert the metrics against oracle counts
    * without changing q30's registry signature. */
  @volatile var lastQ30Progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil

  /** q30: per-day, per-ticker tumbling-window counts and exact-decimal
    * value sums over the event stream. Complete-mode aggregate lands in
    * a parquet sink via foreachBatch (each trigger overwrites with the
    * full updated aggregate) — nothing is materialized on the driver,
    * unlike a memory sink.
    *
    * OBSERVABILITY: the pre-aggregation stream carries an `observe`
    * node (`q30_input`: row count + min/max event time per batch), so
    * every micro-batch's progress event reports the custom metric next
    * to the engine's own numInputRows / numRowsDroppedByWatermark —
    * the late-data telemetry a production stream alerts on. The run's
    * progress records are kept in [[lastQ30Progress]]. */
  def q30StreamTumbling(spark: SparkSession, sfDir: String): DataFrame = stateful(spark, sfDir) {
    // the file streaming source wants a directory; stage a symlink dir.
    // Sink and checkpoint live in SIBLING dirs, never under the streamed
    // source path — a continuous or restarted run of a source-nested
    // sink would ingest its own output.
    val tmp = TempDirs.create("graft_q30")
    val srcDir = Files.createDirectories(tmp.resolve("src"))
    val srcSchema = stageEventsSource(spark, srcDir, sfDir)
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val stream = Tables.normalizeTs(
        stagedReader(spark, srcSchema, srcDir.toString))
      .observe("q30_input", count(lit(1)).as("n_input_rows"),
        min(col("ts")).as("min_event_ts"), max(col("ts")).as("max_event_ts"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 1e6).cast("long")).as("tv"))
    val q = stream.writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(out)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    lastQ30Progress = q.recentProgress.toSeq
    spark.read.schema(stream.schema).parquet(out)
      .select(to_date(col("window.start")).as("window_day"),
        col("event_type").as("ticker"), col("n_events"),
        (col("tv").cast("double") / 1e6).as("total_value"))
      .orderBy("window_day", "ticker")
  }

  /** q31: streaming idempotent load. Builds a two-file source (original
    * prices + a replay batch that is half duplicates / half new keys),
    * streams it one file per micro-batch, and foreachBatch-merges each
    * batch into the month-partitioned price sink via
    * [[graft.sources.PriceSink.appendDedup]]: within-batch dedup +
    * month-pruned anti-join against existing keys, then APPEND of only
    * the novel rows — never a full-state rewrite, so per-batch work is
    * proportional to the batch (the shape that survives 100 TB of
    * accumulated state). The replay's duplicate rows are byte-identical
    * to the originals, so the merged set is independent of batch order. */
  def q31StreamDedupMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.PriceSink
    val tmp = TempDirs.create("graft_stream").toFile.getAbsolutePath
    val state = s"$tmp/state"; val ckpt = s"$tmp/ckpt"

    val prices = Tables.prices(spark, sfDir) // ticker, ts, close, event_id
    val replay = prices.filter(col("event_id") % 3 === 0)
      .withColumn("ts", when(col("event_id") % 2 === 0,
        col("ts") + expr("INTERVAL 40 DAYS")).otherwise(col("ts")))
      .withColumn("close", when(col("event_id") % 2 === 0,
        col("close") + 1.0).otherwise(col("close")))
      .withColumn("event_id", col("event_id") + 1000000L)
    // one staging write job for both batches (stageOrderedBatches),
    // memoized per fixture (stagedOnce — the staged pair of files is
    // deterministic input scaffolding); appendDedup's within-batch
    // dedup is a deterministic row_number pick, so within-file row
    // order is irrelevant
    val src2 = stagedOnce(s"q31|$sfDir") { dir =>
      stageOrderedBatches(prices.withColumn("__ord", lit(0))
        .unionByName(replay.withColumn("__ord", lit(1))), dir, 2)
    }

    val q = spark.readStream.schema(prices.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src2)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        PriceSink.appendDedup(batch.sparkSession, state, batch)
        ()
      }
      .start()
    q.awaitTermination()
    PriceSink.read(spark, state).orderBy("ticker", "ts", "close")
  }

  /** q37: arbitrary stateful streaming via mapGroupsWithState — per-user
    * running (count, exact value sum) carried across micro-batches. The
    * source is split into two files streamed one per batch, so state
    * genuinely persists between batches; the final state equals the
    * batch aggregation, which is the oracle. */
  def q37StreamUserStats(spark: SparkSession, sfDir: String): DataFrame = stateful(spark, sfDir) {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    val tmp = TempDirs.create("graft_q37").toFile.getAbsolutePath
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), round(col("value") * 1e6).cast("long").as("vmicro"),
        col("event_id"))
    // split by event parity so EVERY user spans both micro-batches and
    // the per-user state genuinely carries across them (one write job —
    // stageOrderedBatches — memoized per fixture: deterministic input
    // scaffolding; the fold is a commutative count+sum)
    val src2 = stagedOnce(s"q37|$sfDir") { dir =>
      stageOrderedBatches(ev.select(col("user_id"), col("vmicro"),
        pmod(col("event_id"), lit(2)).as("__ord")), dir, 2)
    }

    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val frame = spark.readStream.schema(StructType(ev.schema.filter(_.name != "event_id")))
      .option("maxFilesPerTrigger", "1").parquet(src2)
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0L))
          var n = n0; var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          (uid, n, s)
      }
      .toDF("user_id", "n_events", "sum_micro")
    val sunk = sinkAndRead(frame, out, ckpt, OutputMode.Update)
    // the update stream emits one row per state change; the final state
    // per user is the one with the largest cumulative count
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("n_events").desc)
    sunk
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"),
        (col("sum_micro").cast("double") / 1e6).as("total_value"))
      .orderBy("user_id")
  }

  /** One event for the session walk; `us` is event-time micros; `ts`
    * carries the watermark attribute through to the stateful operator. */
  case class SessEv(user_id: Long, ts: java.sql.Timestamp, us: Long, event_id: Long)
  /** Open-session state: start/end micros and event count. The session's
    * IDENTITY is its start time — not a per-user counter, which would
    * restart at 0 after an event-time timeout removes the user's state
    * and collide with that user's earlier session 0. Start times of a
    * user's sessions are strictly increasing (sessions are disjoint in
    * time), so they key updates unambiguously across state expiry; the
    * ordinal index the oracle wants is derived at readback by ranking
    * start times per user. */
  case class SessState(start: Long, end: Long, n: Long)
  case class SessOut(user_id: Long, n_events: Long,
                     start_us: Long, end_us: Long)

  private val SessionGapMicros = 1800L * 1000000L // 30 min, as q18

  /** q45: streaming sessionization — the streaming twin of batch q18.
    * Events are split into two micro-batches at the median event time,
    * so sessions genuinely span batches and per-user state carries
    * across. flatMapGroupsWithState walks each user's batch in
    * (ts, event_id) order: a >30-min gap closes the open session
    * (emitted final), the open session is emitted as a snapshot each
    * batch, and EventTimeTimeout fires once the watermark passes
    * end+gap, closing idle sessions from state. The sink keeps every
    * update; the final per-(user, session) row is the one with the
    * largest count — identical to the batch result, which is the
    * oracle. */
  def q45StreamSessionize(spark: SparkSession, sfDir: String): DataFrame = stateful(spark, sfDir) {
    val tmp = TempDirs.create("graft_q45").toFile.getAbsolutePath
    val (src, schema) = stageEventHalves(spark, sfDir, tmp)
    runSessionize(spark, src, s"$tmp/out", s"$tmp/ckpt", schema)
  }

  /** Stage selected events columns as time-ascending parquet slices
    * (modification-times strictly ordered, so the file source streams
    * them as time-ascending micro-batches — sessions genuinely span
    * batches). Default 2 slices split near the median event time;
    * `graft.stream.sourceSplits` overrides the count for the
    * multi-batch parity probe. Returns (srcDir, schema). */
  private def stageEventHalves(spark: SparkSession, sfDir: String,
      tmp: String,
      cols: Seq[String] = Seq("user_id", "ts", "event_id")): (String, StructType) = {
    val k = spark.conf.getOption("graft.stream.sourceSplits")
      .map(_.toInt).getOrElse(2)
    val ev = Tables.events(spark, sfDir)
      .select(cols.map(col): _*)
    val src = stagedOnce(s"halves|$sfDir|k=$k|${cols.mkString(",")}") { dir =>
      sliceStageInto(spark, ev, dir, k): Unit
    }
    (src, ev.schema)
  }

  /** The stateful sessionize pipeline over an already-staged source
    * directory — shared by q45 and the multi-batch timeout regression
    * spec, which drives it with hand-built batches where a user's
    * state times out and the user then RETURNS (the path a 2-batch
    * split can never reach; the spec pins
    * `graft.stream.maxFilesPerTrigger=1` to force per-file batches).
    *
    * Batch granularity is conf-driven since optimization r19
    * ([[stagedReader]]): UNSET, an AvailableNow run drains the staged
    * backlog in ONE micro-batch — results are batch-count-invariant by
    * contract (the parity spec + MultiBatchProbe), and each extra
    * micro-batch pays a fixed engine round (plan, state-store
    * load/commit per partition, sink job) that StreamFloorProbe
    * measured as the dominant term of the streaming floors at sf0.1.
    * The multi-batch drill (`graft.stream.sourceSplits` +
    * `maxFilesPerTrigger=1`) remains one conf away — the deployment
    * shape where the backlog genuinely arrives in pieces. */
  private[graft] def runSessionize(spark: SparkSession, src: String,
      out: String, ckpt: String,
      schema: StructType): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    val frame = stagedReader(spark, schema, src)
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .as[SessEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessOut](
          OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[SessEv], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // watermark passed end+gap: the open session can never grow —
            // emit it closed and drop the state. A LATER session of this
            // user cannot collide with it: sessions are keyed by start
            // time, which only grows.
            val s = state.get
            state.remove()
            Iterator(SessOut(uid, s.n, s.start, s.end))
          } else {
            val evs = rows.toArray.sortBy(e => (e.us, e.event_id))
            val outRows = Seq.newBuilder[SessOut]
            var st = state.getOption
            for (e <- evs) {
              st match {
                case Some(s) if e.us - s.end > SessionGapMicros =>
                  outRows += SessOut(uid, s.n, s.start, s.end) // closed
                  st = Some(SessState(e.us, e.us, 1))
                case Some(s) =>
                  st = Some(s.copy(end = e.us, n = s.n + 1))
                case None =>
                  st = Some(SessState(e.us, e.us, 1))
              }
            }
            for (s <- st) {
              outRows += SessOut(uid, s.n, s.start, s.end) // snapshot
              state.update(s)
              state.setTimeoutTimestamp((s.end + SessionGapMicros) / 1000 + 1)
            }
            outRows.result().iterator
          }
      }
      .toDF("user_id", "n_events", "start_us", "end_us")
    val sunk = sinkAndRead(frame, out, ckpt, OutputMode.Update)

    // per (user, session-start): the final update is the one with the
    // largest count; the oracle's ordinal session_idx is the rank of the
    // session's start time within the user
    import org.apache.spark.sql.expressions.Window
    val wLast = Window.partitionBy("user_id", "start_us")
      .orderBy(col("n_events").desc)
    val wIdx = Window.partitionBy("user_id").orderBy(col("start_us").asc)
    sunk
      .withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .withColumn("session_idx", (row_number().over(wIdx) - 1).cast("long"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        timestamp_micros(col("start_us")).as("start_ts"),
        timestamp_micros(col("end_us")).as("end_ts"))
      .orderBy("user_id", "session_idx")
  }

  /** q68: STREAMING sessionization via the built-in `session_window`
    * aggregation — the codegen'd, merge-on-aggregate alternative to
    * q45's flatMapGroupsWithState walk (q56 is the batch form). Session
    * windows only support APPEND output: a session emits exactly once,
    * when the watermark passes its window end (last event + gap), so
    * sessions still open inside the final watermark horizon never
    * emit — the operator's contract, which the oracle encodes as the
    * same cutoff. Same +1-microsecond gap as q56 to align the window's
    * closed-open boundary with the batch walk's strictly-greater test. */
  def q68StreamSessionWindow(spark: SparkSession, sfDir: String)
      : DataFrame = stateful(spark, sfDir) {
    val tmp = TempDirs.create("graft_q68").toFile.getAbsolutePath
    val (src, schema) = stageEventHalves(spark, sfDir, tmp)
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val frame = stagedReader(spark, schema, src)
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes 1 microsecond"))
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("start_ts"), max("ts").as("end_ts"))
      .select("user_id", "n_events", "start_ts", "end_ts")
    sinkAndRead(frame, out, ckpt).orderBy("user_id", "start_ts")
  }

  /** q73: sliding-window aggregation in APPEND mode — overlapping
    * `window(ts, 10 min, 5 min)` assignment (each event lands in two
    * windows), watermark-driven emission of CLOSED windows only. This is
    * the dashboard shape tumbling can't express (smoothed rates need
    * overlap), and append mode is the 100 TB discipline: a window is
    * written exactly once, when the watermark passes its end, so the
    * sink is append-only parquet and per-batch state stays bounded by
    * the watermark horizon — no complete-mode rewrite of all history.
    * Emission contract (mirrored by the oracle): Spark tracks event-time
    * stats in MILLISECONDS, so a window emits iff
    * `window.end <= ms-truncated(max ts) - 1 hour`. */
  def q73StreamSlidingWindow(spark: SparkSession, sfDir: String)
      : DataFrame = stateful(spark, sfDir) {
    val tmp = TempDirs.create("graft_q73").toFile.getAbsolutePath
    val (src, schema) = stageEventHalves(spark, sfDir, tmp,
      Seq("event_type", "ts", "value"))
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val frame = stagedReader(spark, schema, src)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 1e6).cast("long")).as("tv"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n_events"),
        (col("tv").cast("double") / 1e6).as("total_value"))
    sinkAndRead(frame, out, ckpt).orderBy("w_start", "event_type")
  }

  /** q94: CHAINED stateful operators in ONE streaming query — a 5-minute
    * tumbling count per event_type is re-aggregated into hourly stats
    * (sum / peak / completeness count over its closed 5-min windows)
    * downstream in the same stream, via `window(window_time(w), 1h)`.
    * Before Spark 3.4 this required two jobs with an intermediate sink;
    * chained time-window aggregations keep it one pipeline with two
    * generations of state store, the inner emitting into the outer as
    * the shared watermark closes windows. At 100 TB this is the
    * roll-up-cascade shape (minute → hour → day dashboards) without
    * landing intermediate tables. Emission contract matches q73's: a
    * window emits iff its end <= ms-truncated(max ts) - 1 hour; every
    * 5-min window inside an emitted hour has itself closed (w5_end <=
    * h_end <= watermark), so emitted hours are complete — which the
    * oracle reproduces batch-side. */
  def q94ChainedWindows(spark: SparkSession, sfDir: String): DataFrame = stateful(spark, sfDir) {
    val tmp = TempDirs.create("graft_q94").toFile.getAbsolutePath
    val (src, schema) = stageEventHalves(spark, sfDir, tmp,
      Seq("event_type", "ts"))
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val frame = stagedReader(spark, schema, src)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n5"))
      .groupBy(window(window_time(col("window")), "1 hour"), col("event_type"))
      .agg(sum("n5").as("n_events"), max("n5").as("peak_5min"),
        count(lit(1)).as("n_5min_windows"))
      .select(col("window.start").as("h_start"), col("window.end").as("h_end"),
        col("event_type"), col("n_events"), col("peak_5min"),
        col("n_5min_windows"))
    sinkAndRead(frame, out, ckpt).orderBy("h_start", "event_type")
  }

  /** q52: stream-stream interval join — sparse "trade" events joined to
    * every price observation in the 2 hours at or before them, per
    * ticker. Both sides carry watermarks and the join has a closed time
    * constraint, so the state store can evict: the shape that runs
    * forever at 100 TB. Inner join; all matching pairs are emitted
    * (unlike the as-of join's latest-only pick). */
  def q52StreamIntervalJoin(spark: SparkSession, sfDir: String)
      : DataFrame = stateful(spark, sfDir) {
    // sink/checkpoint as siblings of the source dir, not inside it
    val tmp = TempDirs.create("graft_q52")
    val srcDir = Files.createDirectories(tmp.resolve("src"))
    val srcSchema = stageEventsSource(spark, srcDir, sfDir)
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    def src = Tables.normalizeTs(
      stagedReader(spark, srcSchema, srcDir.toString))
    // the natural equi-key (ticker) has tiny cardinality, so state
    // lookups would scan the key's whole history per probe. Bucketing
    // time into the join key bounds each probe to two 2h windows: the
    // right row sits in exactly one bucket, the left row probes its own
    // bucket and the previous one (the range spans at most two), so no
    // pair is matched twice and per-probe state work is O(window), not
    // O(history) — the difference between a join that degrades as the
    // stream ages and one that doesn't.
    val bucketMicros = 2L * 3600 * 1000000
    val l = src.filter(col("value") < 40)
      .select(col("event_id"), col("event_type").as("ticker"), col("ts"))
      .withWatermark("ts", "1 hour")
      .withColumn("bucket", explode(array(
        floor(unix_micros(col("ts")) / bucketMicros),
        floor(unix_micros(col("ts")) / bucketMicros) - 1)))
    val r = src.filter(col("value") >= 150)
      .select(col("event_type").as("rticker"), col("ts").as("rts"),
        col("value").as("close"), col("event_id").as("rid"))
      .withWatermark("rts", "1 hour")
      .withColumn("rbucket", floor(unix_micros(col("rts")) / bucketMicros))
    val frame = l.join(r,
        col("ticker") === col("rticker") && col("bucket") === col("rbucket") &&
          col("rts") >= col("ts") - expr("INTERVAL 2 HOURS") &&
          col("rts") <= col("ts"))
      .select("event_id", "ticker", "ts", "rts", "close", "rid")
    sinkAndRead(frame, out, ckpt).orderBy("event_id", "rid")
  }

  /** q60: stream-stream LEFT OUTER interval join — q52's shape plus the
    * outer-join state machine: a left event with no price in its 2-hour
    * window emits a null-extended row, but only once the RIGHT side's
    * watermark passes its timestamp (no later right row could still
    * match), i.e. unmatched lefts with ts inside the final watermark
    * horizon never emit — that is the operator's contract, and the
    * oracle encodes the same cutoff.
    *
    * The time-bucket trick keeps per-probe state O(window) as in q52;
    * under an OUTER join it adds one wrinkle: each left row lives in two
    * bucket keys, and a bucket-row that found nothing emits a spurious
    * null even when the sibling bucket matched. A row is truly
    * unmatched only if unmatched in ALL its probed buckets, so the
    * readback keeps nulls only for event_ids with no matched row (and
    * one null per event, not one per bucket) — plain post-filtering,
    * proportional to the (sparse) null stream. */
  def q60StreamOuterIntervalJoin(spark: SparkSession, sfDir: String)
      : DataFrame = stateful(spark, sfDir) {
    val tmp = TempDirs.create("graft_q60")
    val srcDir = Files.createDirectories(tmp.resolve("src"))
    val srcSchema = stageEventsSource(spark, srcDir, sfDir)
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    def src = Tables.normalizeTs(
      stagedReader(spark, srcSchema, srcDir.toString))
    val bucketMicros = 2L * 3600 * 1000000
    val l = src.filter(col("value") < 40)
      .select(col("event_id"), col("event_type").as("ticker"), col("ts"))
      .withWatermark("ts", "1 hour")
      .withColumn("bucket", explode(array(
        floor(unix_micros(col("ts")) / bucketMicros),
        floor(unix_micros(col("ts")) / bucketMicros) - 1)))
    val r = src.filter(col("value") >= 150)
      .select(col("event_type").as("rticker"), col("ts").as("rts"),
        col("value").as("close"), col("event_id").as("rid"))
      .withWatermark("rts", "1 hour")
      .withColumn("rbucket", floor(unix_micros(col("rts")) / bucketMicros))
    val frame = l.join(r,
        col("ticker") === col("rticker") && col("bucket") === col("rbucket") &&
          col("rts") >= col("ts") - expr("INTERVAL 2 HOURS") &&
          col("rts") <= col("ts"),
        "left_outer")
      .select("event_id", "ticker", "ts", "rts", "close", "rid")
    val sunk = sinkAndRead(frame, out, ckpt)
    val matched = sunk.filter(col("rid").isNotNull)
    val unmatched = sunk.filter(col("rid").isNull)
      .select("event_id", "ticker", "ts", "rts", "close", "rid").distinct()
      .join(matched.select("event_id").distinct(), Seq("event_id"), "left_anti")
    matched.unionByName(unmatched).orderBy("event_id", "rid")
  }

  /** q81: stream-stream LEFT SEMI interval join — completes the
    * streaming join family (inner q52, left outer q60): "which trades
    * had ANY price observation in the 2 hours at or before them",
    * emitting each qualifying left event once, with no right-side
    * payload and no null-extension machinery. Semi is the cheapest of
    * the three at 100 TB: matched left rows leave state immediately and
    * right rows are only ever probed, never emitted, so sink traffic is
    * bounded by the left stream however dense the right one is.
    *
    * Same time-bucket trick as q52 (probes stay O(window), not
    * O(history)); under SEMI it means a left event matching in both its
    * probed buckets emits once per bucket-key. The dedup happens IN the
    * stream — `dropDuplicates(event_id, ts)` chained after the join,
    * state keyed on the event identity and evicted by the same
    * watermark (ts carries the event-time tag through the join) — so
    * the sink already holds each qualifying event once and the readback
    * is a plain ordered scan, not a second full shuffle of everything
    * the stream just wrote. No watermark-cutoff logic: matched rows
    * always emit (the unmatched, which semi silently drops, are exactly
    * what the EXISTS oracle drops too). */
  def q81StreamSemiJoin(spark: SparkSession, sfDir: String): DataFrame = stateful(spark, sfDir) {
    val tmp = TempDirs.create("graft_q81")
    val srcDir = Files.createDirectories(tmp.resolve("src"))
    val srcSchema = stageEventsSource(spark, srcDir, sfDir)
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    def src = Tables.normalizeTs(
      stagedReader(spark, srcSchema, srcDir.toString))
    val bucketMicros = 2L * 3600 * 1000000
    val l = src.filter(col("value") < 40)
      .select(col("event_id"), col("event_type").as("ticker"), col("ts"))
      .withWatermark("ts", "1 hour")
      .withColumn("bucket", explode(array(
        floor(unix_micros(col("ts")) / bucketMicros),
        floor(unix_micros(col("ts")) / bucketMicros) - 1)))
    val r = src.filter(col("value") >= 150)
      .select(col("event_type").as("rticker"), col("ts").as("rts"),
        col("event_id").as("rid"))
      .withWatermark("rts", "1 hour")
      .withColumn("rbucket", floor(unix_micros(col("rts")) / bucketMicros))
    val frame = l.join(r,
        col("ticker") === col("rticker") && col("bucket") === col("rbucket") &&
          col("rts") >= col("ts") - expr("INTERVAL 2 HOURS") &&
          col("rts") <= col("ts"),
        "left_semi")
      .select("event_id", "ticker", "ts")
      // in-stream dedup of the per-bucket duplicate emits: stateful op
      // chained after the join, evicted by the watermark ts still carries
      .dropDuplicates("event_id", "ts")
    sinkAndRead(frame, out, ckpt).orderBy("event_id")
  }

  /** q90: stream-stream FULL OUTER interval join — completes the family
    * (inner q52, left outer q60, semi q81) with the one shape that
    * null-extends BOTH sides on watermark expiry. The eviction
    * semantics differ per side and fall out of the time constraint
    * `rts ∈ [ts - 2h, ts]`: an unmatched LEFT row can only stop waiting
    * once no future right row may satisfy `rts <= ts`, i.e. when the
    * watermark passes `ts`; an unmatched RIGHT row waits for future
    * lefts with `ts <= rts + 2h`, i.e. until the watermark passes
    * `rts + 2h`. The oracle encodes both cutoffs against the final
    * watermark (min of the two sides' ms-truncated max event time minus
    * the 1h delay).
    *
    * Same time-bucket trick as q52/q60 (per-probe state O(window)).
    * Under FULL OUTER the left's two bucket-rows mean a spurious left
    * null can emit even when the sibling bucket matched, so the
    * readback keeps left-nulls only for event_ids with no matched row
    * (q60's contract). Right rows sit in exactly ONE bucket and every
    * left probes it, so right-side matching is complete and each
    * unmatched right emits exactly once — no dedup or cutoff logic
    * needed on that side. */
  def q90StreamFullOuterJoin(spark: SparkSession, sfDir: String)
      : DataFrame = stateful(spark, sfDir) {
    val tmp = TempDirs.create("graft_q90")
    val srcDir = Files.createDirectories(tmp.resolve("src"))
    val srcSchema = stageEventsSource(spark, srcDir, sfDir)
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    def src = Tables.normalizeTs(
      stagedReader(spark, srcSchema, srcDir.toString))
    val bucketMicros = 2L * 3600 * 1000000
    val l = src.filter(col("value") < 40)
      .select(col("event_id"), col("event_type").as("ticker"), col("ts"))
      .withWatermark("ts", "1 hour")
      .withColumn("bucket", explode(array(
        floor(unix_micros(col("ts")) / bucketMicros),
        floor(unix_micros(col("ts")) / bucketMicros) - 1)))
    val r = src.filter(col("value") >= 150)
      .select(col("event_type").as("rticker"), col("ts").as("rts"),
        col("value").as("close"), col("event_id").as("rid"))
      .withWatermark("rts", "1 hour")
      .withColumn("rbucket", floor(unix_micros(col("rts")) / bucketMicros))
    val frame = l.join(r,
        col("ticker") === col("rticker") && col("bucket") === col("rbucket") &&
          col("rts") >= col("ts") - expr("INTERVAL 2 HOURS") &&
          col("rts") <= col("ts"),
        "full_outer")
      .select(col("event_id"),
        coalesce(col("ticker"), col("rticker")).as("ticker"),
        col("ts"), col("rts"), col("close"), col("rid"))
    val sunk = sinkAndRead(frame, out, ckpt)
    val matched = sunk.filter(col("rid").isNotNull && col("event_id").isNotNull)
    val leftNulls = sunk.filter(col("rid").isNull && col("event_id").isNotNull)
      .distinct()
      .join(matched.select("event_id").distinct(), Seq("event_id"), "left_anti")
    val rightNulls = sunk.filter(col("event_id").isNull)
    matched.unionByName(leftNulls).unionByName(rightNulls)
      .orderBy("event_id", "rid")
  }

  /** q53: streaming dedup — dropDuplicatesWithinWatermark over a source
    * that delivers every event twice. The duplicates arrive inside the
    * watermark horizon (same event times, one AvailableNow batch), which
    * is exactly the operator's contract: state for a key lives only
    * until the watermark passes it, so the store stays bounded forever.
    * The deduped stream lands in parquet; the readback aggregates per
    * type and must equal the batch aggregate over the ORIGINAL events —
    * proof no duplicate survived. */
  def q53StreamDedup(spark: SparkSession, sfDir: String): DataFrame = stateful(spark, sfDir) {
    val tmp = TempDirs.create("graft_q53").toFile.getAbsolutePath
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"),
        round(col("value") * 1e6).cast("long").as("vmicro"))
    // one write of the doubled stream: a single source batch by
    // construction, so every duplicate is inside the watermark horizon
    // (split across batches, watermark-aged duplicates would legally
    // survive — that is the operator's contract, not a bug). Memoized
    // per fixture (stagedOnce): deterministic input scaffolding.
    val src2 = stagedOnce(s"q53|$sfDir") { dir =>
      ev.union(ev).coalesce(2).write.parquet(dir)
    }
    val frame = spark.readStream.schema(ev.schema).parquet(src2)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    sinkAndRead(frame, out, ckpt)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        (sum(col("vmicro")).cast("double") / 1e6).as("total_value"))
      .orderBy("event_type")
  }

  /** q71: stream-static join — the streaming enrichment shape. Each
    * micro-batch of the event stream joins a STATIC dimension
    * (`customer`, re-read per batch but broadcast, never shuffled and
    * never stateful: no watermark, no state store), then lands
    * append-only. At 100 TB/day this is how facts pick up slowly-
    * changing dims: the stream side stays a pure pipeline stage, the
    * dim refreshes for free on every batch, and the join adds zero
    * streaming state. The readback aggregate proves every event got
    * its segment. */
  def q71StreamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = TempDirs.create("graft_q71")
    val srcDir = Files.createDirectories(tmp.resolve("src"))
    val srcSchema = stageEventsSource(spark, srcDir, sfDir)
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val stream = stagedReader(spark, srcSchema, srcDir.toString)
      // customer scales with the corpus: the hint must not assert
      // broadcast at 100 TB (Tables.dimBroadcast declines it past the
      // stats ceiling and the per-batch join falls back to shuffle)
      .join(graft.sources.Tables.dimBroadcast(dim),
        col("user_id") === col("c_custkey"))
      .select(col("c_mktsegment"),
        round(col("value") * 1e6).cast("long").as("vmicro"))
    sinkAndRead(stream, out, ckpt)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        (sum(col("vmicro")).cast("double") / 1e6).as("total_value"))
      .orderBy("c_mktsegment")
  }

  /** q102: STREAMING CDC apply — the streaming twin of q96. The events
    * change log (every 7th event a delete tombstone) streams one file
    * per micro-batch; each batch merges into a shard-partitioned
    * materialized state table via [[graft.queries.EtlQueries
    * .cdcMergeIntoStore]]: batch collapses to latest-per-key map-side,
    * only touched shard directories are read back and dynamically
    * overwritten, tombstones persist so late batches cannot resurrect
    * deleted keys, and the max_by version merge makes the state
    * CONVERGENT regardless of how the log is batched — the readback
    * must equal q96's one-shot batch apply (and its oracle). The two
    * source files split the log by event parity, so nearly every key's
    * version history spans both batches and the merge path is
    * genuinely exercised. */
  def q102StreamCdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.queries.EtlQueries
    val tmp = TempDirs.create("graft_q102").toFile.getAbsolutePath
    val state = s"$tmp/state"; val ckpt = s"$tmp/ckpt"
    val log = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        when(col("event_id") % 7 === 0, "D").otherwise("U").as("op"),
        round(col("value") * 1e6).cast("long").as("value_micro"))
    // one staging write job (stageOrderedBatches), memoized per
    // fixture (stagedOnce: deterministic input scaffolding) — the
    // per-batch CDC merge keys on (user_id, event_type) with a
    // deterministic latest-version pick, so within-batch row order is
    // irrelevant
    val src2 = stagedOnce(s"q102|$sfDir") { dir =>
      stageOrderedBatches(
        log.withColumn("__ord", pmod(col("event_id"), lit(2))), dir, 2)
    }
    val q = spark.readStream.schema(log.schema)
      .option("maxFilesPerTrigger", "1").parquet(src2)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        EtlQueries.cdcMergeIntoStore(state, batch)
        ()
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(state)
      .filter(col("op") =!= "D")
      .select(col("user_id"), col("event_type"), col("ts").as("last_ts"),
        col("value_micro").as("last_value_micro"))
      .orderBy("user_id", "event_type")
  }

  /** q120's StatefulProcessor: per-user (count, exact sum, batch-parity
    * bitmask) in a single ValueState. The bitmask makes cross-batch
    * state persistence ORACLE-VISIBLE: the source splits by event-id
    * parity into one file per micro-batch, so a user whose history
    * spans both parities must report popcount 2 — provable in SQL as
    * `COUNT(DISTINCT event_id % 2)`, and only reachable if state
    * genuinely survived between batches. */
  private class UserStatsTws
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("s",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
                                 tv: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      var (n, s, mask) = if (st.exists()) st.get() else (0L, 0L, 0L)
      rows.foreach { r => n += 1; s += r._2; mask |= (1L << r._3) }
      st.update((n, s, mask))
      Iterator.single((key, n, s, java.lang.Long.bitCount(mask).toLong))
    }
  }

  /** q120: arbitrary state via `transformWithState` — Spark 4's
    * StatefulProcessor API (typed state variables with per-state TTL,
    * timers, multi-state handles), the successor to the
    * mapGroupsWithState form q37 uses. Same per-user totals contract
    * as q37 PLUS the parity bitmask proving the ValueState carried
    * across micro-batches (see [[UserStatsTws]]); update-mode emission
    * per batch, final row per user reconciled on readback exactly as
    * q37 documents. Requires the RocksDB state-store provider — TWS
    * state lives in column families, which the HDFS-backed store does
    * not support. */
  def q120TransformWithState(spark: SparkSession, sfDir: String)
      : DataFrame = stateful(spark, sfDir) {
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    val tmp = TempDirs.create("graft_q120").toFile.getAbsolutePath
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), round(col("value") * 1e6).cast("long").as("vmicro"),
        pmod(col("event_id"), lit(2)).as("parity"))
    // one staging write job, memoized per fixture (stagedOnce:
    // deterministic input scaffolding); `parity` stays a DATA column
    // (the TWS row type reads it), `__ord` is the partition column and
    // is excluded from the files
    val src2 = stagedOnce(s"q120|$sfDir") { dir =>
      stageOrderedBatches(ev.withColumn("__ord", col("parity")), dir, 2)
    }
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val frame = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(src2)
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new UserStatsTws, TimeMode.None(), OutputMode.Update(),
        implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long, Long)]])
      .toDF("user_id", "n_events", "sum_micro", "n_batches")
    val sunk = sinkAndRead(frame, out, ckpt, OutputMode.Update)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("n_events").desc)
    sunk
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"),
        (col("sum_micro").cast("double") / 1e6).as("total_value"),
        col("n_batches"))
      .orderBy("user_id")
  }

  /** q119: STATE-STORE INTROSPECTION — the checkpoint's RocksDB state
    * read back as a DataFrame via Spark's `statestore` source and
    * hash-checked against the batch aggregation. A complete-mode
    * tumbling aggregation leaves one state row per (window, type); the
    * reader exposes them as (key struct, value struct) straight from
    * the store files, no query rerun. This is the operational tool a
    * 100 TB stateful pipeline leans on: inspecting what a deployed
    * job's state ACTUALLY holds (skew per key, stuck windows, state
    * growth) without touching the job — and the oracle match proves
    * the store holds exactly the aggregate it should, byte-decoded
    * correctly. */
  def q119StateStoreRead(spark: SparkSession, sfDir: String): DataFrame = stateful(spark, sfDir) {
    val tmp = TempDirs.create("graft_q119")
    val srcDir = Files.createDirectories(tmp.resolve("src"))
    val srcSchema = stageEventsSource(spark, srcDir, sfDir)
    val ckpt = s"$tmp/ckpt"
    val q = Tables.normalizeTs(
        stagedReader(spark, srcSchema, srcDir.toString))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 1e6).cast("long")).as("sum_micro"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("noop")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.format("statestore").load(ckpt)
      .select(to_date(col("key.window.start")).as("window_day"),
        col("key.event_type").as("ticker"),
        col("value.count").as("n_events"),
        col("value.sum").as("sum_micro"))
      .orderBy("window_day", "ticker")
  }

  val oracle: Map[String, String] = Map(
    "q120_transform_with_state" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS total_value,
        |       COUNT(DISTINCT event_id % 2) AS n_batches
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q119_statestore_read" ->
      """SELECT CAST(ts AS DATE) AS window_day, event_type AS ticker,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value*1000000.0) AS BIGINT)) AS BIGINT) AS sum_micro
        |FROM events GROUP BY 1, 2 ORDER BY window_day, ticker""".stripMargin,

    "q102_stream_cdc_apply" ->
      """WITH log AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op,
        |         CAST(ROUND(value*1000000.0) AS BIGINT) AS value_micro
        |  FROM events),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM log)
        |SELECT user_id, event_type, ts AS last_ts,
        |       value_micro AS last_value_micro
        |FROM ranked WHERE rn = 1 AND op = 'U'
        |ORDER BY user_id, event_type""".stripMargin,

    "q71_stream_static_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q53_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // outer rows only for lefts evicted by the final watermark (the
    // min of both sides' max-event-time minus the 1h delay): unmatched
    // lefts inside the horizon never emit, per the operator's contract —
    // the oracle encodes the same cutoff. Spark tracks event-time stats
    // in MILLISECONDS (EventTimeWatermarkExec floors µs→ms), so the
    // cutoff is ms-truncated before subtracting the delay; without the
    // trunc, a left event in the sub-ms window below the true cutoff
    // would be null-emitted by the oracle but not by Spark.
    "q60_stream_outer_interval_join" ->
      """WITH l AS (
        |  SELECT event_id, event_type AS ticker, ts FROM events WHERE value < 40),
        |r AS (
        |  SELECT event_type AS ticker, ts AS rts, value AS close, event_id AS rid
        |  FROM events WHERE value >= 150),
        |wm AS (
        |  SELECT date_trunc('milliseconds',
        |           LEAST((SELECT max(ts) FROM l), (SELECT max(rts) FROM r)))
        |         - INTERVAL 1 HOUR AS cut)
        |SELECT l.event_id, l.ticker, l.ts, r.rts, r.close, r.rid
        |FROM l JOIN r ON l.ticker = r.ticker
        |  AND r.rts >= l.ts - INTERVAL 2 HOUR AND r.rts <= l.ts
        |UNION ALL
        |SELECT l.event_id, l.ticker, l.ts, NULL, NULL, NULL
        |FROM l, wm
        |WHERE l.ts < wm.cut
        |  AND NOT EXISTS (SELECT 1 FROM r WHERE r.ticker = l.ticker
        |    AND r.rts >= l.ts - INTERVAL 2 HOUR AND r.rts <= l.ts)
        |ORDER BY event_id, rid""".stripMargin,

    // both cutoffs against the same final watermark as q60: lefts
    // null-extend below `cut` (no future right can satisfy rts <= ts),
    // rights below `cut - 2h` (no future left can satisfy ts <= rts+2h)
    "q90_stream_full_outer_join" ->
      """WITH l AS (
        |  SELECT event_id, event_type AS ticker, ts FROM events WHERE value < 40),
        |r AS (
        |  SELECT event_type AS ticker, ts AS rts, value AS close, event_id AS rid
        |  FROM events WHERE value >= 150),
        |wm AS (
        |  SELECT date_trunc('milliseconds',
        |           LEAST((SELECT max(ts) FROM l), (SELECT max(rts) FROM r)))
        |         - INTERVAL 1 HOUR AS cut)
        |SELECT l.event_id, l.ticker, l.ts, r.rts, r.close, r.rid
        |FROM l JOIN r ON l.ticker = r.ticker
        |  AND r.rts >= l.ts - INTERVAL 2 HOUR AND r.rts <= l.ts
        |UNION ALL
        |SELECT l.event_id, l.ticker, l.ts, NULL, NULL, NULL
        |FROM l, wm
        |WHERE l.ts < wm.cut
        |  AND NOT EXISTS (SELECT 1 FROM r WHERE r.ticker = l.ticker
        |    AND r.rts >= l.ts - INTERVAL 2 HOUR AND r.rts <= l.ts)
        |UNION ALL
        |SELECT NULL, r.ticker, NULL, r.rts, r.close, r.rid
        |FROM r, wm
        |WHERE r.rts < wm.cut - INTERVAL 2 HOUR
        |  AND NOT EXISTS (SELECT 1 FROM l WHERE l.ticker = r.ticker
        |    AND r.rts >= l.ts - INTERVAL 2 HOUR AND r.rts <= l.ts)
        |ORDER BY event_id, rid""".stripMargin,

    "q81_stream_semi_join" ->
      """SELECT l.event_id, l.event_type AS ticker, l.ts
        |FROM events l
        |WHERE l.value < 40 AND EXISTS (
        |  SELECT 1 FROM events r
        |  WHERE r.value >= 150 AND r.event_type = l.event_type
        |    AND r.ts >= l.ts - INTERVAL 2 HOUR AND r.ts <= l.ts)
        |ORDER BY l.event_id""".stripMargin,

    "q52_stream_interval_join" ->
      """WITH l AS (
        |  SELECT event_id, event_type AS ticker, ts FROM events WHERE value < 40),
        |r AS (
        |  SELECT event_type AS ticker, ts AS rts, value AS close, event_id AS rid
        |  FROM events WHERE value >= 150)
        |SELECT l.event_id, l.ticker, l.ts, r.rts, r.close, r.rid
        |FROM l JOIN r ON l.ticker = r.ticker
        |  AND r.rts >= l.ts - INTERVAL 2 HOUR AND r.rts <= l.ts
        |ORDER BY l.event_id, r.rid""".stripMargin,

    "q45_stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
        |m AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |                      > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |s AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM m)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |       COUNT(*) AS n_events, MIN(ts) AS start_ts, MAX(ts) AS end_ts
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    // q18's sessions, restricted to those the append-mode session_window
    // can emit. The exact operator contract: the session's window end is
    // end_ts + gap (gap = 30 min 1 µs), the final watermark is the
    // ms-FLOORED max event time minus the 30-min delay (Spark tracks
    // event-time stats in milliseconds), and eviction/emission uses
    // window_end <= watermark (WatermarkSupport's LessThanOrEqual on
    // the window-struct end).
    // each event belongs to exactly duration/slide = 2 overlapping
    // windows (starts at slide-floor(ts) and one slide earlier, epoch-
    // aligned like Spark's window()); append-mode emission keeps only
    // windows closed by the final watermark, ms-truncated to mirror
    // Spark's millisecond event-time stats
    // chained windows: 5-min tumbling counts rolled into hours; only
    // hours closed by the final watermark emit, and those hours'
    // constituent 5-min windows are then all closed too, so the batch
    // twin aggregates everything and filters on the hour end. CASTs pin
    // DuckDB's HUGEINT sum back to Spark's BIGINT.
    "q94_chained_windows" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |w5 AS (
        |  SELECT make_timestamp(us - us % 300000000) AS w5s, event_type,
        |         count(*) AS n5
        |  FROM e GROUP BY 1, 2),
        |hr AS (
        |  SELECT make_timestamp(epoch_us(w5s) - epoch_us(w5s) % 3600000000) AS h_start,
        |         event_type,
        |         CAST(sum(n5) AS BIGINT) AS n_events,
        |         max(n5) AS peak_5min,
        |         count(*) AS n_5min_windows
        |  FROM w5 GROUP BY 1, 2),
        |wm AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 1 HOUR AS wm
        |       FROM events)
        |SELECT h_start, h_start + INTERVAL 1 HOUR AS h_end, event_type,
        |       n_events, peak_5min, n_5min_windows
        |FROM hr, wm WHERE h_start + INTERVAL 1 HOUR <= wm.wm
        |ORDER BY h_start, event_type""".stripMargin,

    "q73_stream_sliding_window" ->
      """WITH e AS (
        |  SELECT event_type, value, epoch_us(ts) AS us FROM events),
        |w AS (
        |  SELECT event_type, value,
        |         make_timestamp(us - us % 300000000 - k.k * 300000000) AS w_start
        |  FROM e, (SELECT UNNEST([0, 1]) AS k) k),
        |wm AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 1 HOUR AS wm
        |       FROM events)
        |SELECT w_start, w_start + INTERVAL 10 MINUTE AS w_end, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS total_value
        |FROM w, wm
        |WHERE w_start + INTERVAL 10 MINUTE <= wm.wm
        |GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin,

    "q68_stream_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
        |m AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |                      > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |s AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM m),
        |sess AS (
        |  SELECT user_id, session_idx, COUNT(*) AS n_events,
        |         MIN(ts) AS start_ts, MAX(ts) AS end_ts
        |  FROM s GROUP BY user_id, session_idx),
        |wm AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 30 MINUTE AS wm
        |       FROM events)
        |SELECT user_id, n_events, start_ts, end_ts
        |FROM sess, wm
        |WHERE end_ts + INTERVAL 30 MINUTE + INTERVAL 1 MICROSECOND <= wm.wm
        |ORDER BY user_id, start_ts""".stripMargin,

    "q37_stream_user_stats" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q30_stream_tumbling" ->
      """SELECT CAST(ts AS DATE) AS window_day, event_type AS ticker,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0 AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_day, ticker""".stripMargin,

    // same INSERT-OR-IGNORE expansion as q41's oracle (batch 1 = the
    // full feed deduped per key, batch 2 = the replay deduped as a
    // whole then anti-joined on stored keys) — the streaming run
    // commits exactly those two micro-batches in that order
    "q31_stream_dedup_merge" ->
      """WITH existing AS (
        |  SELECT event_type AS ticker, ts, value AS close, event_id FROM events),
        |base AS (
        |  SELECT ticker, ts, close FROM (
        |    SELECT ticker, ts, close,
        |           row_number() OVER (PARTITION BY ticker, ts ORDER BY close) AS rn
        |    FROM existing) WHERE rn = 1),
        |replay AS (
        |  SELECT ticker,
        |         CASE WHEN event_id % 2 = 0 THEN ts + INTERVAL 40 DAY ELSE ts END AS ts,
        |         CASE WHEN event_id % 2 = 0 THEN close + 1.0 ELSE close END AS close
        |  FROM existing WHERE event_id % 3 = 0),
        |replay_dedup AS (
        |  SELECT ticker, ts, close FROM (
        |    SELECT ticker, ts, close,
        |           row_number() OVER (PARTITION BY ticker, ts ORDER BY close) AS rn
        |    FROM replay) WHERE rn = 1),
        |replay_new AS (
        |  SELECT r.ticker, r.ts, r.close FROM replay_dedup r
        |  WHERE NOT EXISTS (SELECT 1 FROM base b
        |                    WHERE b.ticker = r.ticker AND b.ts = r.ts))
        |SELECT ticker, ts, close FROM base
        |UNION ALL
        |SELECT ticker, ts, close FROM replay_new
        |ORDER BY ticker, ts, close""".stripMargin
  )
}
