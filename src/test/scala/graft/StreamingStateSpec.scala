package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamingQueries
import graft.sources.Tables

/** The deployment-shape state-store check: every stateful streaming
  * query in the engine must also run on the RocksDB provider — the
  * disk-backed store a 100 TB deployment uses when state outgrows the
  * executor heap. Results must equal the batch oracle exactly, same as
  * with the default in-memory provider.
  */
class StreamingStateSpec extends SparkSpec {

  test("a user returning after a session timeout gets a distinct session, not a collision") {
    // three micro-batches: user 1's first session times out of state
    // (watermark driven past end+gap by user 9's events), then user 1
    // RETURNS. A per-user counter restarted at 0 here and collided with
    // the earlier session 0; start-time identity cannot.
    import java.sql.Timestamp
    import org.apache.spark.sql.functions._
    def t(s: String) = Timestamp.valueOf(s)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sess3").toFile.getAbsolutePath
    val src = s"$tmp/src"
    import spark.implicits._
    val batches = Seq(
      Seq((1L, t("2024-01-01 10:00:00"), 1L), (9L, t("2024-01-01 10:00:00"), 2L)),
      Seq((9L, t("2024-01-01 12:00:00"), 3L)), // watermark -> 11:30 > 10:30+gap
      Seq((1L, t("2024-01-01 13:00:00"), 4L), (9L, t("2024-01-01 13:00:00"), 5L)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val dir = s"$tmp/b$i"
      rows.toDF("user_id", "ts", "event_id").coalesce(1).write.parquet(dir)
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(src, s"b$i.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(f.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 10000) // strict mtime order
    }
    // one micro-batch per staged file: this test exists to exercise the
    // cross-batch EventTimeTimeout path, which a single-swallow run
    // (the r19 default) never reaches
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val outDf = try StreamingQueries.runSessionize(spark, src, s"$tmp/out",
      s"$tmp/ckpt", batches.head.toDF("user_id", "ts", "event_id").schema)
    finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val user1 = outDf.filter(col("user_id") === 1L)
      .select("session_idx", "n_events", "start_ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    assert(user1.toSeq == Seq(
      (0L, 1L, t("2024-01-01 10:00:00")),
      (1L, 1L, t("2024-01-01 13:00:00"))), user1.toSeq.toString)
    // user 9: one long session (12:00 is within 30min? no — 2h gaps) ->
    // actually three separate sessions, each of one event
    val user9 = outDf.filter(col("user_id") === 9L)
      .select("session_idx", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(user9.toSeq == Seq((0L, 1L), (1L, 1L), (2L, 1L)))
  }

  test("a restarted query resumes from its checkpoint: state restored, nothing reprocessed") {
    // THE recovery contract a deployed stream lives on: after a stop,
    // a restart with the same checkpoint must (a) restore aggregation
    // state and (b) skip every already-committed source offset. The
    // running aggregate discriminates all failure modes: reprocessing
    // b0 would double-count it (n=5), losing state would undercount
    // (n=1) — only restore-and-resume yields n=3.
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.DataFrame
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft_restart")
        .toFile.getAbsolutePath
      val src = s"$tmp/src"; new java.io.File(src).mkdirs()
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      var nextMtime = 1700000000000L
      def addFile(name: String, rows: Seq[(Long, Long)]): Unit = {
        val stage = s"$tmp/stage_$name"
        rows.toDF("user_id", "event_id").coalesce(1).write.parquet(stage)
        val f = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(src, s"$name.parquet")
        java.nio.file.Files.copy(f.toPath, dst.toPath)
        dst.setLastModified(nextMtime); nextMtime += 10000
      }
      val schema = Seq((0L, 0L)).toDF("user_id", "event_id").schema
      def runOnce(): Unit = {
        val q = spark.readStream.schema(schema).parquet(src)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum("event_id").as("s"))
          .writeStream.outputMode("complete")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("overwrite").parquet(out); ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def state(): Set[(Long, Long, Long)] = spark.read.parquet(out)
        .as[(Long, Long, Long)].collect().toSet
      addFile("b0", Seq((1L, 10L), (1L, 20L)))
      runOnce()
      assert(state() == Set((1L, 2L, 30L)))
      // stop/restart with new data: counts CONTINUE from restored state
      addFile("b1", Seq((1L, 5L), (2L, 7L)))
      runOnce()
      assert(state() == Set((1L, 3L, 35L), (2L, 1L, 7L)),
        "restart must restore state (not 1) and skip b0 (not 5)")
      // restart with nothing new: no batch fires, the result is intact
      runOnce()
      assert(state() == Set((1L, 3L, 35L), (2L, 1L, 7L)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("changelog checkpointing recovers state across restarts (incremental, not snapshot)") {
    // The deploy-grade RocksDB mode at scale: per-batch the store
    // uploads the CHANGELOG, not a full snapshot — checkpoint cost
    // scales with the batch's state delta instead of total state size
    // (the difference between shipping megabytes and terabytes per
    // trigger at 100 TB state). Recovery replays changelogs onto the
    // last snapshot, so the restart contract must hold UNCHANGED: same
    // running-aggregate discriminator as the snapshot-mode test above
    // — reprocessing double-counts, state loss undercounts, only
    // changelog-replay-then-resume yields the exact counts.
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.DataFrame
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val changelog =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevP = spark.conf.getOption(provider)
    val prevC = spark.conf.getOption(changelog)
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(changelog, "true")
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft_changelog")
        .toFile.getAbsolutePath
      val src = s"$tmp/src"; new java.io.File(src).mkdirs()
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      var nextMtime = 1700000000000L
      def addFile(name: String, rows: Seq[(Long, Long)]): Unit = {
        val stage = s"$tmp/stage_$name"
        rows.toDF("user_id", "event_id").coalesce(1).write.parquet(stage)
        val f = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(src, s"$name.parquet")
        java.nio.file.Files.copy(f.toPath, dst.toPath)
        dst.setLastModified(nextMtime); nextMtime += 10000
      }
      val schema = Seq((0L, 0L)).toDF("user_id", "event_id").schema
      def runOnce(): Unit = {
        val q = spark.readStream.schema(schema).parquet(src)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum("event_id").as("s"))
          .writeStream.outputMode("complete")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("overwrite").parquet(out); ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def state(): Set[(Long, Long, Long)] = spark.read.parquet(out)
        .as[(Long, Long, Long)].collect().toSet
      addFile("b0", Seq((1L, 10L), (1L, 20L)))
      runOnce()
      assert(state() == Set((1L, 2L, 30L)))
      // three restarts, each appending state the next must replay
      addFile("b1", Seq((1L, 5L), (2L, 7L)))
      runOnce()
      assert(state() == Set((1L, 3L, 35L), (2L, 1L, 7L)))
      addFile("b2", Seq((2L, 3L), (3L, 1L)))
      runOnce()
      assert(state() == Set((1L, 3L, 35L), (2L, 2L, 10L), (3L, 1L, 1L)),
        "changelog replay must restore the full history of deltas")
      // the changelog files must actually exist in the checkpoint —
      // proof the incremental path ran, not a silent snapshot fallback
      val stateDir = java.nio.file.Paths.get(ckpt, "state")
      val changelogFiles = java.nio.file.Files.walk(stateDir)
        .filter(_.getFileName.toString.endsWith(".changelog"))
        .count()
      assert(changelogFiles > 0,
        s"no .changelog files under $stateDir — incremental checkpointing never engaged")
    } finally {
      prevP match {
        case Some(v) => spark.conf.set(provider, v)
        case None => spark.conf.unset(provider)
      }
      prevC match {
        case Some(v) => spark.conf.set(changelog, v)
        case None => spark.conf.unset(changelog)
      }
    }
  }

  test("mapGroupsWithState and sessionization run on the RocksDB state store") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // q37: per-user running stats across micro-batches
      val got = StreamingQueries.q37StreamUserStats(spark, sf()).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val exp = Tables.events(spark, sf())
        .groupBy("user_id").agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == exp)
      // q45: session state with event-time timeouts
      val sessions = StreamingQueries.q45StreamSessionize(spark, sf()).count()
      val batch = graft.queries.EventsQueries.q18Sessionize(spark, sf()).count()
      assert(sessions == batch && sessions > 0)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `key` as recorded in each committed offset-log entry of `ckpt`, in
    * batch order: the conf Spark pins per checkpoint, read off disk. */
  private def offsetLogConf(ckpt: String, key: String): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val logs = new java.io.File(ckpt, "offsets").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong).toSeq
    logs.map { f =>
      val metadata = java.nio.file.Files.readAllLines(f.toPath).get(1)
      mapper.readTree(metadata).get("conf").get(key).asText()
    }
  }

  private val joinFormat = "spark.sql.streaming.join.stateFormatVersion"

  test("q52's join opens one RocksDB store per state partition, and its checkpoint pins v3") {
    // join state format v3 keeps the four per-side stores of a
    // stream-stream join as column families of ONE store; under v2 the
    // engine reports four instances per partition. Both counts here come
    // from outside StreamingQueries: the engine's own progress events
    // and the offset log on disk.
    import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
    val progress = scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress; () }
    }
    // q52's checkpoint lives in a fresh graft_q52* dir under the run root
    val root = graft.sources.TempDirs.create("graft_spec").getParent.toFile
    def q52Dirs(): Set[java.io.File] =
      root.listFiles().filter(_.getName.startsWith("graft_q52")).toSet
    val before = q52Dirs()
    spark.streams.addListener(listener)
    try {
      assert(StreamingQueries.q52StreamIntervalJoin(spark, sf()).count() > 0)
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
    } finally spark.streams.removeListener(listener)
    val ops = progress.synchronized(progress.toList).flatMap(_.stateOperators)
    val joins = ops.filter(_.operatorName.toLowerCase.contains("join"))
    assert(joins.nonEmpty, s"no join operator in ${ops.map(_.operatorName)}")
    joins.foreach { op =>
      assert(op.numStateStoreInstances == op.numShufflePartitions,
        s"${op.numStateStoreInstances} store instances on " +
          s"${op.numShufflePartitions} partitions")
      assert(op.numShufflePartitions <= spark.sparkContext.defaultParallelism,
        "never more state stores than cores")
    }
    val Seq(dir) = (q52Dirs() -- before).toSeq
    val versions = offsetLogConf(s"$dir/ckpt", joinFormat)
    assert(versions.nonEmpty && versions.forall(_ == "3"), versions.toString)
  }

  /** Interval-join restart harness in q52's shape — left (id, k, ts) and
    * right (rid, rk, rts) file sources with 1-hour watermarks, pairs with
    * rts in [ts - 2h, ts], appended to parquet — over one checkpoint. */
  private class JoinRestart(tag: String) {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    private val tmp = java.nio.file.Files.createTempDirectory(tag)
      .toFile.getAbsolutePath
    private val left = s"$tmp/left"; private val right = s"$tmp/right"
    private val out = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"
    Seq(left, right).foreach(new java.io.File(_).mkdirs())
    private var nextMtime = 1700000000000L
    private def t(s: String) = java.sql.Timestamp.valueOf(s)
    private def addFile(dir: String, name: String, df: DataFrame): Unit = {
      val stage = s"$tmp/stage_$name"
      df.coalesce(1).write.parquet(stage)
      val f = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, s"$name.parquet")
      java.nio.file.Files.copy(f.toPath, dst.toPath)
      dst.setLastModified(nextMtime); nextMtime += 10000
    }
    def addLeft(name: String, rows: Seq[(Long, String, String)]): Unit =
      addFile(left, name, rows.map(r => (r._1, r._2, t(r._3))).toDF("id", "k", "ts"))
    def addRight(name: String, rows: Seq[(Long, String, String)]): Unit =
      addFile(right, name, rows.map(r => (r._1, r._2, t(r._3))).toDF("rid", "rk", "rts"))
    private val lSchema = Seq((0L, "", t("2024-01-01 00:00:00"))).toDF("id", "k", "ts").schema
    private val rSchema = Seq((0L, "", t("2024-01-01 00:00:00"))).toDF("rid", "rk", "rts").schema
    def runOnce(): Unit = {
      val l = spark.readStream.schema(lSchema).parquet(left).withWatermark("ts", "1 hour")
      val r = spark.readStream.schema(rSchema).parquet(right).withWatermark("rts", "1 hour")
      val q = l.join(r, col("k") === col("rk") &&
          col("rts") >= col("ts") - expr("INTERVAL 2 HOURS") && col("rts") <= col("ts"))
        .select("id", "rid")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => b.write.mode("append").parquet(out); () }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    /** Every emitted pair, duplicates kept. */
    def pairs(): Seq[(Long, Long)] =
      spark.read.parquet(out).as[(Long, Long)].collect().toSeq.sorted
  }

  test("a v3 interval join restarted on its checkpoint emits a cross-restart pair exactly once") {
    // b0 holds a pair that matches within b0 (0-100) and a left row whose
    // match only arrives in b1 (1-101). The restart must restore the
    // left row from the column-family store (else 1-101 is lost) and
    // skip b0 (else 0-100 repeats).
    val j = new JoinRestart("graft_join_v3")
    StreamingQueries.stateful(spark, sf()) {
      assert(spark.conf.get(joinFormat) == "3")
      j.addLeft("l0", Seq((0L, "a", "2024-01-01 10:00:00"), (1L, "b", "2024-01-01 10:00:00")))
      j.addRight("r0", Seq((100L, "a", "2024-01-01 09:45:00")))
      j.runOnce()
      assert(j.pairs() == Seq((0L, 100L)))
      j.addRight("r1", Seq((101L, "b", "2024-01-01 09:30:00")))
      j.runOnce()
      assert(j.pairs() == Seq((0L, 100L), (1L, 101L)),
        "restart must restore the left row and skip b0")
      // restart with nothing new: no batch fires, nothing repeats
      j.runOnce()
      assert(j.pairs() == Seq((0L, 100L), (1L, 101L)))
    }
    val versions = offsetLogConf(j.ckpt, joinFormat)
    assert(versions.nonEmpty && versions.forall(_ == "3"), versions.toString)
    val changelogs = java.nio.file.Files.walk(java.nio.file.Paths.get(j.ckpt, "state"))
      .filter(_.getFileName.toString.endsWith(".changelog")).count()
    assert(changelogs > 0, "the join store must checkpoint through changelogs")
  }

  test("a checkpoint written at join state format v2 resumes at v2 after the switch to v3") {
    // a deployment's pre-existing join: RocksDB at v2. Restarting it
    // under the engine's v3 default must keep reading its v2 state —
    // the version is pinned in the checkpoint's offset log.
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prevP = spark.conf.getOption(provider)
    val prevF = spark.conf.getOption(joinFormat)
    try {
      spark.conf.set(provider,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set(joinFormat, "2")
      val j = new JoinRestart("graft_join_v2")
      j.addLeft("l0", Seq((0L, "a", "2024-01-01 10:00:00"), (1L, "b", "2024-01-01 10:00:00")))
      j.addRight("r0", Seq((100L, "a", "2024-01-01 09:45:00")))
      j.runOnce()
      assert(j.pairs() == Seq((0L, 100L)))
      val atV2 = offsetLogConf(j.ckpt, joinFormat).size
      j.addRight("r1", Seq((101L, "b", "2024-01-01 09:30:00")))
      StreamingQueries.stateful(spark, sf()) {
        assert(spark.conf.get(joinFormat) == "3")
        j.runOnce()
      }
      assert(j.pairs() == Seq((0L, 100L), (1L, 101L)),
        "the v2 state must be restored under the v3 session default")
      val versions = offsetLogConf(j.ckpt, joinFormat)
      assert(versions.size > atV2, "the restart must have committed a batch")
      assert(versions.forall(_ == "2"), versions.toString)
    } finally {
      prevP match {
        case Some(v) => spark.conf.set(provider, v)
        case None => spark.conf.unset(provider)
      }
      prevF match {
        case Some(v) => spark.conf.set(joinFormat, v)
        case None => spark.conf.unset(joinFormat)
      }
    }
  }
}
