package graft.tools

/** Executor-loss fault injection for the batch ITERATIVE family
  * (q48/q59 connected components, q115 PageRank, q124 incremental
  * dedup). The claim under test is the one Lineage.scala makes in
  * prose: with `graft.checkpoint.reliable=true`, a mid-job executor
  * loss does not change the answer — reliable checkpoints survive the
  * dead executor's blocks, lost tasks reschedule, and the committed
  * result is row-identical to a fault-free run. At 100 TB on 1000
  * executors, losing an executor during a multi-round fixpoint is the
  * expected case; this probe is the local, mechanical version of it.
  *
  * Method: a REAL multi-process cluster (`local-cluster[2,4,2048]` —
  * 2 executor JVMs, 4 cores each), not local[n], because in-process
  * "executors" cannot die independently. Each query runs once clean
  * (baseline timing + result), then again with a killer thread that
  * SIGKILLs one CoarseGrainedExecutorBackend process (via
  * ProcessHandle — no shell) at ~40% of the baseline wall-clock. The
  * standalone master relaunches a replacement executor; the job must
  * finish and match the baseline via symmetric exceptAll. The probe
  * verifies the kill landed while the query was RUNNING (a late kill
  * is reported as UNTESTED, not PASS).
  *
  * Usage: SPARK_HOME=/opt/spark sbt "runMain graft.tools.FaultProbe
  *          [sfDir] [qPrefixCsv]"
  *        (defaults: /root/testdata/sf0.1  q48,q59,q115,q124)
  * Exit 0 = every query PASS; 1 = any FAIL/UNTESTED.
  */
object FaultProbe {
  /** The executor JVMs are direct children of this process: the
    * local-cluster Workers run in-process and spawn executors via
    * ProcessBuilder. Match on command line when /proc exposes it
    * (argfile launches can hide the class name), else any java child. */
  private def executorPids(): Seq[ProcessHandle] = {
    import scala.jdk.CollectionConverters._
    val kids = ProcessHandle.current().children().iterator().asScala.toSeq
    val named = kids.filter(_.info().commandLine().map[Boolean](
      _.contains("CoarseGrainedExecutorBackend")).orElse(false))
    if (named.nonEmpty) named
    else kids.filter(_.info().command().map[Boolean](
      _.contains("java")).orElse(false))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val prefixes = args.drop(1).headOption
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq("q48", "q59", "q115", "q124"))
    val spark = graft.Sessions.applyMaster(graft.Sessions.graft("8"),
        "local-cluster[2,4,2048]", memOverride = Some("1536m"))
      .appName("graft-fault-probe")
      // the claim under test: reliable lineage cuts survive executor loss
      .config("graft.checkpoint.reliable", "true")
      // a killed executor fails its in-flight tasks; allow generous
      // retries so the RESCHEDULING path (not abort) is what's probed
      .config("spark.task.maxFailures", "8")
      .config("spark.stage.maxConsecutiveAttempts", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1).filter {
      case (n, _) => prefixes.exists(n.startsWith)
    }
    require(selected.nonEmpty, s"no queries match $prefixes")

    var allOk = true
    val out = new StringBuilder("{")
    val tracker = spark.sparkContext.statusTracker
    selected.foreach { case (name, fn) =>
      // cold run warms codegen/IO; the SECOND (warm) run is both the
      // comparison baseline and the wall-clock that schedules the kill —
      // a cold-run offset lands after the much faster warm job ends
      fn(spark, sfDir).count()
      val t0 = System.nanoTime()
      val baseline = fn(spark, sfDir).cache()
      val nBase = baseline.count()
      val baseSecs = (System.nanoTime() - t0) / 1e9

      // faulted attempts with a shrinking kill offset until one lands
      // mid-run; a kill after job end proves nothing
      var status = "UNTESTED"
      var faultSecs = 0.0
      var nFault = -1L
      var killedPid = -1L
      var attempt = 0
      while (status == "UNTESTED" && attempt < 3) {
        attempt += 1
        val frac = 0.4 / attempt
        @volatile var killedAt = 0L
        // `armed` + interrupt make the killer cancellable: if the warm
        // faulted run finishes BEFORE the scheduled offset, the thread
        // must not stay sleeping past this attempt and fire a stray
        // SIGKILL into the NEXT attempt (two simultaneous kills on a
        // 2-executor cluster can exhaust stage attempts and crash the
        // probe before the artifact is written).
        @volatile var armed = true
        val killer = new Thread(() => {
          try {
            val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
            while (tracker.getActiveJobIds().isEmpty &&
                System.nanoTime() < deadline) Thread.sleep(10)
            Thread.sleep(math.max(50L, (baseSecs * 1000 * frac).toLong))
            // re-check armed right before firing: the interrupt can land
            // between the sleep and the kill, and a stray SIGKILL here
            // would hit the NEXT attempt's executors
            if (armed) executorPids().sortBy(_.pid()).headOption.foreach { h =>
              if (armed) {
                killedPid = h.pid()
                h.destroyForcibly()
                killedAt = System.nanoTime()
              }
            }
          } catch { case _: InterruptedException => () }
        })
        killer.setDaemon(true)
        val t1 = System.nanoTime()
        killer.start()
        val faulted = fn(spark, sfDir).cache()
        nFault = faulted.count()
        val endAt = System.nanoTime()
        armed = false
        killer.interrupt()
        // bounded join: interrupt makes prompt exit the common case, the
        // timeout bounds the pathological one (executorPids()/
        // destroyForcibly() respond to neither interrupt nor cancel)
        killer.join(5000)
        faultSecs = (endAt - t1) / 1e9
        val killedDuring = killedAt != 0L && killedAt < endAt
        status =
          if (!killedDuring) "UNTESTED"
          else if (nBase == nFault &&
            faulted.exceptAll(baseline).isEmpty &&
            baseline.exceptAll(faulted).isEmpty) "PASS"
          else "FAIL"
        faulted.unpersist()
      }
      if (status != "PASS") allOk = false
      System.err.println(
        f"faultprobe: $name $status base=$baseSecs%.1fs fault=$faultSecs%.1fs " +
          s"rows=$nBase/$nFault attempts=$attempt killedPid=$killedPid " +
          s"liveExecutors=${executorPids().size}")
      out.append(s""""${name.takeWhile(_ != '_')}":{"status":"$status",""")
      out.append(f""""base_sec":$baseSecs%.1f,"fault_sec":$faultSecs%.1f,""")
      out.append(s""""rows":$nBase,"attempts":$attempt},""")
      baseline.unpersist()
    }
    // Contrast (observational, non-gating): the same kill under the
    // DEFAULT localCheckpoint mode. On a real multi-host cluster,
    // executor-local blocks die with their executor and truncated
    // lineage cannot recompute them — a mid-fixpoint loss fails the
    // job. On THIS single-host testbed the observation is weaker:
    // host-local shuffle reads (spark.shuffle.readHostLocalDisk) let
    // the survivor read the dead executor's shuffle files straight
    // from disk, and the standalone master replaces the executor in
    // ~1 s, so runs can SURVIVE locally without validating the default
    // mode for real clusters. The load-bearing result stays the PASS
    // rows: reliable mode completes AND matches under executor loss.
    // Default-ON; set GRAFT_FAULT_CONTRAST=0 to skip the contrast runs.
    if (!sys.env.get("GRAFT_FAULT_CONTRAST").contains("0")) {
      val (cName, cFn) = selected.head
      spark.conf.set("graft.checkpoint.reliable", "false")
      cFn(spark, sfDir).count() // warm
      val t0 = System.nanoTime()
      cFn(spark, sfDir).count()
      val warmSecs = (System.nanoTime() - t0) / 1e9
      // with only 2 executors the survivor may happen to hold every
      // block a retry needs, so a single SURVIVED is not a refutation —
      // observe a few mid-run kills and report the tally
      val observations = (1 to 3).map { i =>
        @volatile var killedAt = 0L
        @volatile var armed = true // same stale-kill guard as the main loop
        val killer = new Thread(() => {
          try {
            val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
            while (tracker.getActiveJobIds().isEmpty &&
                System.nanoTime() < deadline) Thread.sleep(10)
            Thread.sleep(math.max(50L, (warmSecs * 1000 * 0.4 / i).toLong))
            if (armed) executorPids().sortBy(_.pid()).headOption.foreach { h =>
              if (armed) { h.destroyForcibly(); killedAt = System.nanoTime() }
            }
          } catch { case _: InterruptedException => () }
        })
        killer.setDaemon(true)
        killer.start()
        val obs =
          try {
            cFn(spark, sfDir).count()
            val endAt = System.nanoTime()
            if (killedAt != 0L && killedAt < endAt) "SURVIVED" else "UNTESTED"
          }
          catch { case t: Throwable => s"FAILED(${t.getClass.getSimpleName})" }
        armed = false
        killer.interrupt()
        killer.join(5000) // bounded for the same reason as the main loop
        obs
      }
      System.err.println(
        s"faultprobe: contrast $cName default-localCheckpoint mode: " +
          observations.mkString(",") +
          " (FAILED expected when the dead executor held needed blocks)")
      out.append(s""""contrast":{"query":"${cName.takeWhile(_ != '_')}",""")
      out.append(s""""mode":"localCheckpoint","observed":"${observations.mkString(",")}"},""")
      spark.conf.set("graft.checkpoint.reliable", "true")
    }
    val line = out.toString.stripSuffix(",") + "}"
    println(line)
    // GRAFT_FAULT_OUT selects the artifact file so a probe of a different
    // query family (e.g. the streaming set) does not clobber the batch
    // iterative record at the default path
    val artifact = sys.env.getOrElse("GRAFT_FAULT_OUT", "bench/fault_probe.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(artifact),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"faultprobe: could not persist: $e") }
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
