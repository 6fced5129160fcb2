package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming scale-notch probe: run named stateful queries at the
  * given fixture with NO state-partition conf (the auto rule decides)
  * and record, per query —
  *
  *  - wall seconds (end-to-end: stage backlog, drain, read sink);
  *  - the state-store evidence from the progress events: per-batch
  *    state rows, peak state memory (`stateOperators.memoryUsedBytes`
  *    — RocksDB's own accounting), and the store count the auto rule
  *    actually picked (`numShufflePartitions`), which is the number
  *    pinned into the checkpoint for the query's life;
  *  - result rows (a zero-row drain would make any timing a lie).
  *
  * Executor RSS is sampled EXTERNALLY (ps, 3 s cadence — the r14/r15
  * protocol); this probe records what only the session can see.
  * Probe artifact — never touches bench/last_bench.json.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> [SPARK_GRAFT_MASTER=local-cluster[4,8,6144]]
  *   StreamScaleProbe <outJson> [qPrefixes=q52,q90]
  */
object StreamScaleProbe {
  def main(args: Array[String]): Unit = {
    val outPath = if (args.nonEmpty) args(0) else "bench/probe_stream_scale.json"
    val prefixes = (if (args.length > 1) args(1) else "q52,q90")
      .split(",").map(_.trim).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.graft().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // this probe's evidence IS numRowsTotal — opt back into row-count
    // tracking (off by default since r18; see StreamingQueries.stateful)
    spark.conf.set("graft.stream.trackStateRows", "true")

    // per-progress snapshots; queries run one at a time, so
    // clear-before/snapshot-after attributes cleanly
    case class Snap(batchRows: Long, stateRows: Long, stateMem: Long, stores: Long)
    val snaps = ArrayBuffer.empty[Snap]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        snaps.synchronized {
          val ops = Option(e.progress.stateOperators).getOrElse(Array.empty)
          snaps += Snap(e.progress.numInputRows,
            ops.map(_.numRowsTotal).sum,
            ops.map(_.memoryUsedBytes).sum,
            ops.map(_.numShufflePartitions.toLong).foldLeft(0L)(math.max))
          ()
        }
    })

    val registry = graft.SparkEntry.queries
    val results = prefixes.map { p =>
      val name = registry.keys.find(_.startsWith(p))
        .getOrElse(sys.error(s"no registered query starts with $p"))
      snaps.synchronized(snaps.clear())
      val t0 = System.nanoTime()
      val rows = registry(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val s = snaps.synchronized(snaps.toList)
      (name, rows, wall, s)
    }
    def j(name: String, rows: Long, wall: Double, s: List[Snap]): String = {
      val mem = if (s.isEmpty) 0L else s.map(_.stateMem).max
      val srows = if (s.isEmpty) 0L else s.map(_.stateRows).max
      val stores = if (s.isEmpty) 0L else s.map(_.stores).max
      s"""  "$name": {"rows": $rows, "wall_sec": ${math.round(wall * 100) / 100.0},
         |    "batches": ${s.length}, "state_rows_peak": $srows,
         |    "state_mem_peak_bytes": $mem, "state_stores": $stores}"""
        .stripMargin
    }
    val body = results.map { case (n, r, w, s) => j(n, r, w, s) }.mkString(",\n")
    val doc =
      s"""{
         |  "probe": "stream_scale_notch",
         |  "sf_dir": "$sfDir",
         |  "master": "${spark.sparkContext.master}",
         |  "state_partitions_conf": "${spark.conf.getOption("graft.stream.statePartitions").getOrElse("UNSET (auto)")}",
         |$body
         |}""".stripMargin
    println(doc)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (doc + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
