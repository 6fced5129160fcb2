package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{Tables, TempDirs}

/** Streaming-floor decomposition probe (optimization round 18).
  *
  * The bench's 16 streaming queries are floor-bound: their isolated
  * "maximally quiet" samples run 2-9 s at sf0.1 while the data is
  * ~2 MB, i.e. nearly all of the ~45-60 s the family contributes to
  * the sf0.1 sweep is FIXED machinery, not the operators. Before
  * cutting anything, this probe attributes that fixed cost
  * (guide §1: measure first), in one JVM, medians of N trials:
  *
  *  - `stage2`     — ONLY the 2-slice staging write (what
  *                   q45/q52/q68/... pay before any stream starts)
  *  - `passthrough`— staged symlink source -> foreachBatch count, no
  *                   stateful operator, no state store: the micro-batch
  *                   engine + file-source + sink floor
  *  - `agg_hdfs`   — windowed agg, DEFAULT (HDFS/heap) state provider
  *  - `agg_rocks`  — same agg, RocksDB + changelog (the engine's
  *                   production config): the RocksDB premium
  *  - `agg_rocks_nt` — RocksDB with trackTotalNumberOfRows=false
  *                   (skips the get-before-put per state write;
  *                   metrics-only impact, results identical)
  *  - `agg_rocks_p1`/`_p32` — RocksDB agg at 1 vs 32 state partitions:
  *                   the per-store-instance premium
  *
  * Prints one JSON line. Probe artifact — never touches
  * bench/last_bench.json.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.tools.StreamFloorProbe [outJson]"
  */
object StreamFloorProbe {
  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("bench/probe_r18_stream_floor.json")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.Sessions.hostCpus
    val trials = sys.env.getOrElse("GRAFT_BENCH_TRIALS", "3").toInt.max(1)
    val spark = graft.Sessions.graft(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value"), col("event_id"))

    def stage2(): String = {
      val tmp = TempDirs.create("graft_sfp").toString
      val src = s"$tmp/src"
      // replicate StreamingQueries.sliceStageInto's 2-slice staging
      val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val width = math.max(1L, (hi - lo) / 2 + 1)
      Files.createDirectories(java.nio.file.Paths.get(src))
      val base = System.currentTimeMillis()
      for (i <- 0 until 2) {
        val (from, until) = (lo + i * width, lo + (i + 1) * width)
        val sliceDir = s"$src/_slice_$i"
        ev.filter(unix_micros(col("ts")) >= from && unix_micros(col("ts")) < until)
          .coalesce(1).write.parquet(sliceDir)
        new java.io.File(sliceDir).listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach { f =>
            val dst = java.nio.file.Paths.get(src, f"slice_$i%03d_${f.getName}")
            Files.move(f.toPath, dst)
            dst.toFile.setLastModified(base + i * 2000L)
          }
      }
      src
    }

    def run(q: DataFrame => DataFrame, provider: String,
            parts: Int, track: Boolean): Unit = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      if (provider == "rocksdb") {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "true")
        spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
          track.toString)
      } else {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      }
      val src = stage2()
      val tmp = TempDirs.create("graft_sfp_run").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val stream = q(spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(src))
      val sq = stream.writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(out); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
      spark.read.parquet(out).count()
      spark.conf.set("spark.sql.shuffle.partitions", cpus)
      ()
    }

    val agg: DataFrame => DataFrame = in =>
      in.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1e6).cast("long")).as("tv"))

    def passthrough(): Unit = {
      val src = stage2()
      val tmp = TempDirs.create("graft_sfp_run").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val sq = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
        .trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def timed(label: String)(f: => Unit): (String, Double) = {
      val samples = (1 to trials).map { _ =>
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"probe: $label = ${median(samples)}%.2f s  (${samples.map(s => f"$s%.2f").mkString(",")})")
      label -> median(samples)
    }

    val defaultParts = cpus.toInt
    val results = Seq(
      timed("stage2") { stage2(); () },
      timed("passthrough") { passthrough() },
      timed("agg_hdfs") { run(agg, "hdfs", 8, track = true) },
      timed("agg_rocks") { run(agg, "rocksdb", 8, track = true) },
      timed("agg_rocks_nt") { run(agg, "rocksdb", 8, track = false) },
      timed("agg_rocks_p1") { run(agg, "rocksdb", 1, track = true) },
      timed("agg_rocks_p32") { run(agg, "rocksdb", defaultParts.max(32), track = true) },
    )
    val line = results.map { case (k, v) =>
      "\"" + k + "\":" + math.round(v * 100) / 100.0
    }.mkString(
      s"""{"sf":"$sfDir","cpus":$cpus,"trials":$trials,""", ",", "}")
    println(line)
    Files.createDirectories(java.nio.file.Paths.get(outPath).getParent)
    Files.write(java.nio.file.Paths.get(outPath), (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
