package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Spill-path proof: runs the heaviest batch queries under a
  * deliberately small unified memory pool and asserts (via SpillSpec)
  * that the engine SPILLS — exercising ExternalSorter /
  * UnsafeExternalSorter / sort-based hash-agg fallback — and still
  * produces bit-identical answers to an unconstrained run.
  *
  * Why `spark.testing.memory` instead of a small -Xmx: the quantity a
  * 100 TB run actually constrains is the per-task share of the unified
  * execution pool relative to per-partition data (~128 MB–1 GB
  * partitions vs ~200–400 MB task shares, a ratio of roughly 0.5–4×).
  * Capping the pool reproduces exactly that ratio on sf0.1 inputs
  * (≈10–20 MB per partition vs ≈1.5–3 MB per task at a 40 MB pool)
  * while the JVM heap stays large enough that non-pool allocations
  * (parquet buffers, broadcast relations, codegen) never OOM the
  * probe. A small heap would test the GC, not the spill code.
  *
  * Runs every query TWICE in one JVM — first under the capped pool,
  * then a baseline session with identical parallelism/partitioning and
  * no cap — writing both result sets as parquet plus a spills.json of
  * per-query {memoryBytesSpilled, diskBytesSpilled, secs}. The caller
  * (SpillSpec, tools/spill_probe.sh) compares the parquet pairs and
  * asserts non-zero spill totals.
  *
  * Usage: SpillProbe <sfDir> <outDir> <poolMB> <qPrefixCsv>
  */
object SpillProbe {

  private final class SpillListener extends SparkListener {
    val mem = new AtomicLong(0L)
    val disk = new AtomicLong(0L)
    override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
      val m = ev.taskMetrics
      if (m != null) {
        mem.addAndGet(m.memoryBytesSpilled)
        disk.addAndGet(m.diskBytesSpilled)
        ()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: SpillProbe <sfDir> <outDir> <poolMB> <qPrefixCsv>")
    val sfDir = args(0)
    val outDir = args(1)
    val poolMb = args(2).toLong
    val prefixes = args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
    val cpus = graft.Sessions.hostCpus

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes(n.takeWhile(_ != '_')) }
    require(queries.nonEmpty, s"no queries match prefixes $prefixes")

    // both sessions share parallelism + partitioning so the two plans
    // (and therefore any order-sensitive arithmetic) are identical —
    // the ONLY variable is the size of the unified pool
    def session(constrained: Boolean): SparkSession = {
      // local[N,4]: allow task retries. Near the memory wall a task can
      // transiently lose the allocation race (UNABLE_TO_ACQUIRE while
      // sibling tasks hold the pool mid-spill); production absorbs that
      // by retrying the task on another executor — default local mode
      // (maxFailures=1) instead kills the job on the first transient.
      val b = graft.Sessions.graft(cpus)
        .master(s"local[$cpus,4]")
        .appName(if (constrained) "graft-spill-constrained" else "graft-spill-baseline")
      if (constrained) {
        b.config("spark.testing.memory", (poolMb << 20).toString)
          // the 300 MB production floor would force the pool above the
          // pressure point this probe exists to create
          .config("spark.testing.reservedMemory", "0")
      }
      b.getOrCreate()
    }

    val sections = Seq(true, false).map { constrained =>
      val spark = session(constrained)
      spark.sparkContext.setLogLevel("WARN")
      val listener = new SpillListener
      spark.sparkContext.addSparkListener(listener)
      val sub = if (constrained) "constrained" else "baseline"
      val rows = queries.map { case (name, fn) =>
        val (m0, d0) = (listener.mem.get, listener.disk.get)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite")
          .parquet(s"$outDir/$sub/$name")
        // metrics arrive on the listener bus asynchronously — drain it
        // before reading, or a straggler TaskEnd lands in the next
        // query's bucket
        org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
        val secs = (System.nanoTime() - t0) / 1e9
        (name, listener.mem.get - m0, listener.disk.get - d0, secs)
      }
      spark.stop()
      sub -> rows
    }

    def cs(v: Double): Double = math.round(v * 100) / 100.0
    val body = sections.map { case (sub, rows) =>
      val qs = rows.map { case (n, m, d, s) =>
        s""""$n":{"mem":$m,"disk":$d,"secs":${cs(s)}}"""
      }.mkString(",")
      s""""$sub":{$qs}"""
    }.mkString(",")
    val line = s"""{"pool_mb":$poolMb,"sf":"$sfDir","cpus":$cpus,$body}"""
    println(line)
    Files.createDirectories(Paths.get(outDir))
    Files.write(Paths.get(outDir, "spills.json"), (line + "\n").getBytes("UTF-8"))
    ()
  }
}
