package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Multi-batch streaming parity probe (round-16 VERDICT task 4): every
  * streaming bench run deliberately drains its backlog in ONE (or two)
  * micro-batches, and while the specs cover cross-batch STATE (sessions
  * spanning batches, restart cycles), no at-scale artifact showed the
  * family's ANSWERS are batch-count-invariant. This probe runs each
  * stateful family query twice at the given SF —
  *
  *  - single-batch: the defaults (symlink staging, no file cap);
  *  - multi-batch: `graft.stream.sourceSplits` = K time-ascending
  *    slices + `graft.stream.maxFilesPerTrigger` = 1, forcing >= K
  *    micro-batches, the backlog-drain shape a deployment runs —
  *
  * and requires the results ROW-IDENTICAL (count + order-insensitive
  * xxhash64 fingerprint), recording each run's per-batch input rows and
  * state-store rows from the progress events (the state-growth curve).
  * Parity holds by construction — slices ascend in event time, so the
  * watermark only advances between batches and nothing becomes late
  * that was not late in the fixture — and this probe is where the
  * construction meets the operators.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.MultiBatchProbe <outJson> [splits]"
  * Prints + writes one JSON document. Probe artifact — never touches
  * bench/last_bench.json.
  */
object MultiBatchProbe {

  /** The stateful streaming family (VERDICT list): watermarked aggs,
    * sessionization both ways, sliding/chained windows, dedup, and the
    * four stream-stream join flavors. */
  private val Family = Seq(
    "q30", "q37", "q45", "q52", "q53", "q60", "q68", "q73", "q81", "q90", "q94")

  def main(args: Array[String]): Unit = {
    val outPath = if (args.nonEmpty) args(0) else "bench/probe_multibatch.json"
    val splits = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.graft().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // this probe's evidence IS numRowsTotal — opt back into row-count
    // tracking (off by default since r18; see StreamingQueries.stateful)
    spark.conf.set("graft.stream.trackStateRows", "true")

    // per-batch telemetry: (inputRows, stateRowsTotal) per progress
    // event, in arrival order; queries run synchronously one at a time,
    // so a snapshot-and-clear around each run attributes cleanly
    val batches = ArrayBuffer.empty[(Long, Long)]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.synchronized {
          batches += ((e.progress.numInputRows,
            Option(e.progress.stateOperators).map(_.map(_.numRowsTotal).sum)
              .getOrElse(0L)))
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => Family.exists(f => n.startsWith(f + "_") || n == f) }

    /** Order-insensitive result fingerprint: count + decimal(38,0) sum
      * of per-row xxhash64 over every column as string (the session
      * runs ANSI mode, so an i64 accumulator would overflow). */
    def fingerprint(df: DataFrame): (Long, String) = {
      val h = df.select(
        xxhash64(df.columns.map(c => col(c).cast("string")): _*)
          .cast("decimal(38,0)").as("h"))
      val r = h.agg(count(lit(1)), sum(col("h"))).head()
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
    }

    def run(name: String, fn: (SparkSession, String) => DataFrame,
            multi: Boolean): (Long, String, Seq[(Long, Long)], Double) = {
      if (multi) {
        spark.conf.set("graft.stream.sourceSplits", splits.toString)
        spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
      } else {
        spark.conf.unset("graft.stream.sourceSplits")
        spark.conf.unset("graft.stream.maxFilesPerTrigger")
      }
      batches.synchronized(batches.clear())
      val t0 = System.nanoTime()
      val (n, h) = fingerprint(fn(spark, sfDir))
      val secs = (System.nanoTime() - t0) / 1e9
      val perBatch = batches.synchronized(batches.toSeq)
      // isolation between runs, as the bench does
      spark.streams.active.foreach(_.stop())
      spark.catalog.clearCache()
      System.gc()
      (n, h, perBatch, secs)
    }

    val results = queries.map { case (name, fn) =>
      val (n1, h1, b1, s1) = run(name, fn, multi = false)
      val (nK, hK, bK, sK) = run(name, fn, multi = true)
      val parity = n1 == nK && h1 == hK
      val line =
        s"""{"query":"$name","parity":$parity,"rows":$n1,"rows_multi":$nK,""" +
          s""""hash":"$h1","hash_multi":"$hK","secs_single":${f"$s1%.1f"},""" +
          s""""secs_multi":${f"$sK%.1f"},""" +
          s""""batches_single":${b1.map(b => s"[${b._1},${b._2}]").mkString("[", ",", "]")},""" +
          s""""batches_multi":${bK.map(b => s"[${b._1},${b._2}]").mkString("[", ",", "]")}}"""
      System.err.println(s"probe: $name parity=$parity " +
        s"(rows $n1/$nK, batches ${b1.size}/${bK.size})")
      (parity, line)
    }
    val doc =
      s"""{"probe":"multibatch","sf":"$sfDir","splits":$splits,""" +
        s""""parity_ok":${results.count(_._1)},"parity_total":${results.size},""" +
        s""""queries":[${results.map(_._2).mkString(",")}]}"""
    println(doc)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outPath).toAbsolutePath.getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (doc + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
