package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.StreamingQueryListener

/** q68 decade probe: times the session-window pipeline under candidate
  * state-machinery configs and captures the per-batch state-operator
  * metrics the timings alone can't attribute (state rows, update /
  * removal / commit milliseconds, RocksDB memory). Round-12 measured
  * q68 at 5.8× per 10× events while its streaming siblings sit at
  * ~3×, with the prose hypothesis "session COUNT grows with data
  * while the others' state is bounded per key" — this probe turns
  * that into numbers and tests the two shipped knobs that could
  * restore the band:
  *
  *  - `localmerge`: spark.sql.streaming.sessionWindow.merge.sessions
  *    .in.local.partition=true — pre-merges each partition's events
  *    into sessions BEFORE the state-store shuffle, so the stateful
  *    operator ingests ~|sessions| rows instead of ~|events|.
  *  - `changelog`: spark.sql.streaming.stateStore.rocksdb
  *    .changelogCheckpointing.enabled=true — commits upload changelog
  *    deltas instead of full RocksDB snapshots per batch.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 GRAFT_SESSION_VARIANT=localmerge \
  *     sbt "runMain graft.tools.SessionProbe"
  * Prints one JSON line (variant, median secs, trial list, per-batch
  * state metrics of the LAST trial). Probe artifact — does not touch
  * bench/last_bench.json.
  */
object SessionProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1")
    val variant = sys.env.getOrElse("GRAFT_SESSION_VARIANT", "baseline")
    val trials = sys.env.getOrElse("GRAFT_BENCH_TRIALS", "3").toInt.max(1)
    val spark = graft.Sessions.graft().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    variant match {
      case "localmerge" => spark.conf.set(
        "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition",
        "true")
      case "changelog" => spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      case "both" =>
        spark.conf.set(
          "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition",
          "true")
        spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "true")
      case _ => ()
    }
    // per-batch state-operator metrics, collected via listener because
    // the query object lives inside the pipeline function. The listener
    // bus delivers events on its OWN thread, possibly after
    // awaitTermination returns — synchronize every touch and drain the
    // bus (spark.streams semantics offer no flush, so a short bounded
    // wait after each trial lets the terminal progress event land
    // before the buffer is read or cleared).
    val batches = ArrayBuffer.empty[String]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        p.stateOperators.headOption.foreach { s =>
          val line =
            s"""{"batch":${p.batchId},"input_rows":${p.numInputRows},""" +
              s""""state_rows":${s.numRowsTotal},"updated":${s.numRowsUpdated},""" +
              s""""removed":${s.numRowsRemoved},""" +
              s""""update_ms":${s.allUpdatesTimeMs},""" +
              s""""removal_ms":${s.allRemovalsTimeMs},""" +
              s""""commit_ms":${s.commitTimeMs},""" +
              s""""state_bytes":${s.memoryUsedBytes}}"""
          batches.synchronized { batches += line }
        }
      }
    })
    def once(): Double = {
      val t0 = System.nanoTime()
      graft.streaming.StreamingQueries
        .q68StreamSessionWindow(spark, sfDir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // bounded drain of the async listener bus
      secs
    }
    once() // warm: codegen + RocksDB JNI load outside the trials
    val times = (1 to trials).map { _ =>
      batches.synchronized { batches.clear() }
      once()
    }
    def cs(v: Double): Double = math.round(v * 100) / 100.0
    // same median as graft.Bench: average the middle pair for even N
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val med = median(times)
    val batchesJson = batches.synchronized { batches.mkString(",") }
    println(s"""{"variant":"$variant","sf":"$sfDir","trials":${times.size},""" +
      s""""times":[${times.map(cs).mkString(",")}],"median":${cs(med)},""" +
      s""""last_trial_batches":[$batchesJson]}""")
    spark.stop()
  }
}
