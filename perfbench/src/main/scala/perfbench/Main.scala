package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.Sessions

/** One workload run in its own JVM: session, warm-up (every op kind
  * once, outputs checked), then a closed loop of ops for `--seconds`.
  * Writes the run's artifact to `--out`; `run.py` turns it into the
  * result line.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <dir> --tag <expected.json key> --expected <file>
  *   --run-dir <dir> --out <file> [--record <dir>]
  * or:    Main --scale-up <src> <dst> <mult>
  */
object Main {
  private val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  final case class Failure(kind: String, phase: String, cls: String, message: String, frame: String)

  final case class Sample(kind: String, round: Int, traced: Boolean, latencyNs: Long,
                          failed: Boolean, record: Option[OpRecord])

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--scale-up")) {
      val Array(_, src, dst, mult) = args
      val spark = session(Paths.get(dst).getParent.resolve("scale-up-run"))
      try graft.tools.ScaleUp.run(spark, src, dst, mult.toInt, "off", None)
      finally spark.stop()
      return
    }
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val result = run(opt("workload"), opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      opt("data"), opt("tag"), Paths.get(opt("expected")), Paths.get(opt("run-dir")), opts.get("record"))
    Files.writeString(Paths.get(opt("out")), Json(result))
  }

  def session(runDir: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = Sessions.withMaster(SparkSession.builder(), cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def failure(kind: String, phase: String, t: Throwable): Failure = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    Failure(kind, phase, root.getClass.getName, String.valueOf(root.getMessage).take(500),
      root.getStackTrace.headOption.map(_.toString).getOrElse(""))
  }

  private def expectedDigests(file: Path, tag: String): Map[String, Canon.Digest] = {
    if (!Files.exists(file)) return Map.empty
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile).path(tag)
    node.fieldNames().asScala.map { k =>
      val e = node.get(k)
      k -> Canon.Digest(e.get("rows").asLong, e.get("hash").asText)
    }.toMap
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, data: String,
          tag: String, expectedFile: Path, runDir: Path, recordDir: Option[String]): Map[String, Any] = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(runDir)
    val sessionReadyMs = System.currentTimeMillis()
    val expected = expectedDigests(expectedFile, tag)
    val recorded = scala.collection.mutable.LinkedHashMap.empty[String, Canon.Digest]
    def record(name: String, d: Canon.Digest, df: DataFrame): Unit = {
      recorded(name) = d
      recordDir.foreach(dir => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name"))
    }
    def queryOps(ids: Seq[String]): Seq[Op] = ids.map { id =>
      val name = Workloads.registryName(id)
      new QueryOp(spark, name, data, expected.get(name), record)
    }
    val warmIngest = new Ingest(spark, runDir.resolve("warmup_prices").toString, seed)
    val ingest = new Ingest(spark, runDir.resolve("prices").toString, seed)
    val (warmOps, ops): (Seq[Op], Seq[Op]) = workload match {
      case "dashboard" => val o = queryOps(Workloads.dashboard); (o, o)
      case "warehouse" => val o = queryOps(Workloads.warehouse); (o, o)
      case "streaming" => val o = queryOps(Workloads.streaming); (o, o)
      case "ingest"    => (Seq(warmIngest.append, warmIngest.read), Seq(ingest.append, ingest.read))
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val failures = ArrayBuffer.empty[Failure]

    val tracer = new Tracer(spark)

    def cleanup(): Unit = {
      spark.streams.active.foreach(_.stop())
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    /** One execution; the latency covers `run` only (not prepare or cleanup). */
    def execute(op: Op, phase: String, check: Boolean, rec: Option[OpRecord]): (Long, Boolean) = {
      op.prepare()
      val t0 = System.nanoTime()
      var builtNs = 0L
      rec.foreach { r => r.startMs = System.currentTimeMillis(); tracer.begin(r) }
      val outcome: Option[Failure] =
        try op.run(() => {
          builtNs = System.nanoTime()
          rec.foreach(_.builtMs = System.currentTimeMillis())
        }, check).map(msg => Failure(op.name, phase, "OutputCheck", msg, ""))
        catch { case t: Throwable => Some(failure(op.name, phase, t)) }
      val latency = System.nanoTime() - t0
      rec.foreach { r =>
        r.endMs = System.currentTimeMillis(); r.wallNs = latency
        r.buildNs = (if (builtNs > 0) builtNs else t0 + latency) - t0
        tracer.end()
      }
      outcome.foreach(failures += _)
      try cleanup() catch { case t: Throwable => failures += failure(op.name, s"$phase-cleanup", t) }
      (latency, outcome.isDefined)
    }

    // warm-up: every op kind once on the workload's own input, outputs
    // checked; input events per streaming kind counted here so the timed
    // phase needs no listener
    val inputRows = scala.collection.concurrent.TrieMap.empty[String, Long]
    var warmKind = "" // read by the listener; the bus is drained after each warm-up op
    val counter = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val k = warmKind
        inputRows.updateWith(k)(n => Some(n.getOrElse(0L) + e.progress.numInputRows))
      }
    }
    spark.streams.addListener(counter)
    val warmLatency = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val badKinds = warmOps.flatMap { op =>
      warmKind = op.name
      val (lat, failed) = execute(op, "warmup", check = true, None)
      warmLatency(op.name) = lat / 1e9
      tracer.drain()
      if (failed) Some(op.name) else None
    }.toSet
    spark.streams.removeListener(counter)
    // as graft.Bench does after its warm-up: drop the warm-up's garbage so
    // the timed phase starts from the same heap state in every run
    System.gc()
    val warmupEndMs = System.currentTimeMillis()

    // timed phase: a closed loop of whole rounds, each round every kind
    // once in seeded order (ingest alternates append and read), so every
    // run sees the same mix. The round count is fixed from `seconds` and
    // the workload's nominal round time, never from timings of the run,
    // so every run of a workload measures the same ops. With tracing
    // (at least two rounds), rounds go traced, untraced, untraced,
    // traced, ... so the tracing overhead is measured in-run and a drift
    // over the run (the ingest table grows) cancels out of it.
    val rnd = new scala.util.Random(seed)
    val samples = ArrayBuffer.empty[Sample]
    val firstOpMs = System.currentTimeMillis()
    val phaseStart = System.nanoTime()
    val rounds = math.max(if (trace) 2 else 1,
      math.round(seconds / Workloads.nominalRoundSeconds(workload)).toInt)
    var round = 0
    val roundRates = ArrayBuffer.empty[Double]
    while (round < rounds) {
      val traced = trace && (round % 4 == 0 || round % 4 == 3)
      val order = if (workload == "ingest") ops else rnd.shuffle(ops)
      if (traced) tracer.attach()
      val roundStart = System.nanoTime()
      for (op <- order) {
        val rec = if (traced) Some(new OpRecord(op.name)) else None
        val (lat, failed) = execute(op, "timed", check = false, rec)
        samples += Sample(op.name, round, traced, lat, failed || badKinds(op.name), rec)
      }
      if (!traced) roundRates += order.size / ((System.nanoTime() - roundStart) / 1e9)
      if (traced) tracer.detach()
      round += 1
    }
    val phaseSeconds = (System.nanoTime() - phaseStart) / 1e9
    val tableCheck = if (workload == "ingest") ingest.verifyTable() else None
    tableCheck.foreach(m => failures += Failure("prices", "final", "OutputCheck", m, ""))
    recordDir.foreach { dir =>
      Files.writeString(Paths.get(dir, "digests.json"), Json(recorded.map {
        case (k, d) => k -> Map("rows" -> d.rows, "hash" -> d.hash) }))
      Files.writeString(Paths.get(dir, "oracle_sql.json"),
        Json(graft.SparkEntry.oracleSql.filter { case (k, _) => recorded.contains(k) }))
    }
    val peakRss = peakRssMb()
    spark.stop()

    // end-to-end metrics come from the untraced ops of the run
    val plain = samples.filterNot(_.traced).toSeq
    val lat = plain.map(_.latencyNs / 1e9)
    val tail = Stats.tail(lat)
    val kinds = ops.map(_.name)
    val shortName = (k: String) => k.takeWhile(_ != '_')
    val attempted = samples.size
    val failed = samples.count(_.failed) + tableCheck.size
    val correct = failures.isEmpty && failed == 0
    val endToEnd: Map[String, Double] = if (lat.isEmpty) Map.empty else Map(
      "setup_s" -> (firstOpMs - startMs) / 1e3,
      "latency_p50_s" -> Stats.median(lat),
      "latency_tail_s" -> tail.map(_._2).getOrElse(lat.max),
      "ops_per_s" -> Stats.median(roundRates.toSeq))

    def throughput(ss: Seq[Sample]): Double = ss.size / ss.map(_.latencyNs / 1e9).sum
    val tracedRecs = samples.filter(_.traced).flatMap(_.record).toSeq
    val overhead = {
      val (t, u) = samples.toSeq.partition(_.traced)
      if (t.nonEmpty && u.nonEmpty) throughput(t) / throughput(u) else Double.NaN
    }
    val byKind = samples.groupBy(_.kind)
    val perKind = kinds.map { k =>
      val xs = byKind.getOrElse(k, Nil).filterNot(_.traced).map(_.latencyNs / 1e9)
      s"op.${shortName(k)}.p50_s" -> (if (xs.isEmpty) Double.NaN else Stats.median(xs.toSeq))
    }.toMap
    def meanMs(k: String): Double = {
      val xs = plain.filter(_.kind == k).map(_.latencyNs / 1e6)
      if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    }
    // metrics outside the end-to-end set; in every artifact, not only traced ones
    val workloadMetrics: Map[String, Double] = Map("bench.peak_rss_mb" -> peakRss) ++ (workload match {
      case "ingest" => Map(
        "sources.append_ms" -> meanMs("append"),
        "sources.read_ms" -> meanMs("read"),
        "sources.appended_ratio" -> ingest.appended.toDouble / math.max(1L, ingest.offered),
        "sources.rows_written_per_s" -> ingest.appended / (ingest.appendNs / 1e9),
        "sources.stored_bytes_per_row" -> dirBytes(Paths.get(ingest.table)).toDouble / math.max(1L, ingest.storedRows))
      case "streaming" => Map("streaming.events_per_s" ->
        plain.map(s => inputRows.getOrElse(s.kind, 0L)).sum / plain.map(_.latencyNs / 1e9).sum)
      case _ => Map.empty
    })
    val perLayer: Map[String, Double] = Layers.mean(tracedRecs.map(Layers.perOp(_, cores))) ++
      perKind ++ workloadMetrics ++ Map(
        "session.start_s" -> (sessionReadyMs - startMs) / 1e3,
        "session.warmup_s" -> (warmupEndMs - sessionReadyMs) / 1e3,
        "bench.trace_overhead" -> overhead,
        "bench.failed_ratio" -> failed.toDouble / math.max(1, attempted))

    Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> endToEnd,
      "per_layer" -> (if (trace) perLayer else workloadMetrics ++ perKind),
      "tail" -> Map("percentile" -> tail.map(_._1).getOrElse(100), "samples" -> lat.size),
      "warmup_s" -> warmLatency, "rounds" -> round, "timed_seconds" -> phaseSeconds,
      "samples" -> samples.map(s => Seq(s.kind, s.round, s.traced, s.latencyNs / 1e9, s.failed)),
      "ops" -> kinds.map(k => k -> byKind.get(k).map(_.size).getOrElse(0)).toMap,
      "failures" -> failures.map(f => Map("kind" -> f.kind, "phase" -> f.phase,
        "class" -> f.cls, "message" -> f.message, "frame" -> f.frame)),
      "host" -> Map("cores" -> cores, "spark" -> org.apache.spark.SPARK_VERSION,
        "java" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)))
  }
}
