package graft

import org.apache.spark.sql.functions._
import graft.queries.{EtlQueries, SourceQueries}
import graft.sources.{Tables, TableStore}

/** Round-7 storage/maintenance operators: CDC apply (q96), small-file
  * compaction (q97), manifest file skipping (q98), incremental
  * aggregate maintenance (q99). The DuckDB oracle checks their answers;
  * these specs check the properties the oracle cannot see — plan shape,
  * file layout, and pruning counts.
  */
class StorageOpsSpec extends SparkSpec {

  test("q96 CDC apply plans as hash aggregation, not a window sort") {
    val plan = EtlQueries.q96CdcApply(spark, sf())
      .queryExecution.executedPlan.toString
    assert(plan.contains("max_by") || plan.contains("HashAggregate"),
      s"expected aggregate-based plan:\n$plan")
    assert(!plan.contains("Window"),
      s"CDC apply must not fall back to a window rank:\n$plan")
  }

  test("q96 equals the window-ranked replay formulation") {
    import org.apache.spark.sql.expressions.Window
    val log = Tables.events(spark, sf())
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        when(col("event_id") % 7 === 0, "D").otherwise("U").as("op"),
        round(col("value") * 1e6).cast("long").as("value_micro"))
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    val want = log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "U")
      .select(col("user_id"), col("event_type"), col("ts").as("last_ts"),
        col("value_micro").as("last_value_micro"))
      .orderBy("user_id", "event_type")
    val got = EtlQueries.q96CdcApply(spark, sf())
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("q96 drops keys whose latest op is a delete") {
    val got = EtlQueries.q96CdcApply(spark, sf())
    // at least one (user, type) key must have a tombstone as its final
    // event for the delete path to be exercised at all
    val total = Tables.events(spark, sf())
      .select("user_id", "event_type").distinct().count()
    assert(got.count() < total, "no key ended on a delete — fixture too small?")
  }

  test("q97 compaction collapses the small-file layout to ceil(rows/target) per partition") {
    val res = SourceQueries.q97Compaction(spark, sf("sf0.01")).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val rows = r.getAs[Long]("n_rows")
      val files = r.getAs[Long]("n_files")
      assert(files == (rows + 599) / 600,
        s"${r.getAs[String]("event_type")}: $rows rows in $files files")
      assert(files < 32, "compaction must produce fewer files than the 32-way source layout")
    }
  }

  test("q98 manifest pruning reads a strict subset of files") {
    val (picked, total) = SourceQueries.q98PrunedFileCounts(spark, sf("sf0.01"))
    assert(picked >= 1, "the June 1997 band must live somewhere")
    assert(picked < total,
      s"manifest pruning selected $picked of $total files — nothing was skipped")
    // the driver-side plan list is bounded by the one-month overlap,
    // not the table: with 16 range-sorted files over ~7 years, one
    // month should touch a small handful
    assert(picked <= 4,
      s"driver-side file list should be the month's overlap, got $picked of $total")
  }

  test("q143 bloom skipping prunes files range stats cannot touch") {
    val (bloomPicked, statsPicked, total) =
      SourceQueries.q143FileCounts(spark, sf("sf0.01"))
    // the layout is sorted by ship_date, so every file's orderkey range
    // spans ~the whole key space: range stats prune NOTHING for a
    // point lookup — the scenario bloom indexes exist for
    assert(statsPicked == total,
      s"expected min/max stats to be useless here ($statsPicked of $total)")
    assert(bloomPicked >= 1, "the lookup keys exist in the table")
    assert(bloomPicked < total,
      s"bloom index pruned nothing: $bloomPicked of $total files")
    // 3 orders × a handful of lines each, spread by ship date: the
    // true hit set is a small fraction of the 16 files, and at fp
    // ~2e-3 false positives should add ~zero extra files
    assert(bloomPicked <= 12,
      s"bloom prune too weak: $bloomPicked of $total files picked")
  }

  test("q143 pruned result equals the unpruned direct computation") {
    val got = SourceQueries.q143BloomSkipping(spark, sf("sf0.01")).collect()
    Tables.lineitem(spark, sf("sf0.01")).createOrReplaceTempView("lineitem")
    val want = spark.sql(
      """WITH keys AS (
        |  SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS k FROM lineitem
        |  WHERE l_orderkey % 97 = 11 ORDER BY k LIMIT 3)
        |SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |       COUNT(*) AS n_lines,
        |       SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*1000000.0) AS BIGINT)) AS rev_micro
        |FROM lineitem JOIN keys ON CAST(l_orderkey AS BIGINT) = k
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(got.toSeq == want.toSeq)
  }

  test("q151 targeted delete rewrites a strict subset of files and removes the keys") {
    val (served, rewritten, total, keys) =
      SourceQueries.q151Served(spark, sf("sf0.01"))
    assert(rewritten >= 1 && rewritten < total,
      s"expected a surgical rewrite, got $rewritten of $total files")
    // compliance contract: the served store holds zero rows for the
    // deleted keys — and nothing else went missing (row accounting)
    val leftover = served
      .filter(col("l_orderkey").isin(keys.map(Long.box): _*)).count()
    assert(leftover == 0, s"$leftover rows of deleted keys still served")
    val rawTotal = Tables.lineitem(spark, sf("sf0.01")).count()
    val deleted = Tables.lineitem(spark, sf("sf0.01"))
      .filter(col("l_orderkey").cast("long").isin(keys.map(Long.box): _*))
      .count()
    assert(served.count() == rawTotal - deleted,
      s"served=${served.count()} raw=$rawTotal deleted=$deleted")
  }

  test("q155 repair touches only the parked minority and equals the rebuild") {
    val facts = Tables.lineitem(spark, sf())
    val parked = facts.filter(pmod(col("l_partkey"), lit(3)) === 0).count()
    val total = facts.count()
    // the late third of the dimension parks about a third of the facts
    assert(parked > 0 && parked < total / 2,
      s"expected a parked minority, got $parked of $total")
    val want = facts
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"))
      .join(Tables.part(spark, sf())
        .select(col("p_partkey"), col("p_size").cast("long").as("p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_size")
      .agg(count(lit(1)).as("n_lines"), sum("qty").as("sum_qty"))
      .orderBy("p_size")
    val got = EtlQueries.q155LateDimRepair(spark, sf())
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("q98 fully-pruned window returns an empty frame, not an error") {
    // a predicate window before any data exists: the manifest prunes
    // every file — the best case for the optimization, which must yield
    // an empty result with the fact schema rather than throw on an
    // empty path list
    val out = SourceQueries.q98PrunedScan(spark, sf("sf0.01"),
      "1970-01-01", "1970-01-31")
    assert(out.columns.toSeq ==
      Seq("l_orderkey", "l_returnflag", "rev_micro", "ship_date"))
    assert(out.count() == 0)
  }

  test("cdcMergeIntoStore: tombstones shadow late-arriving older upserts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_spec")
      .resolve("state").toString
    def batch(rows: Seq[(Long, String, java.sql.Timestamp, Long, String, Long)]) =
      rows.toDF("user_id", "event_type", "ts", "event_id", "op", "value_micro")
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    // batch 1: key (1,a) upserted then DELETED at version (t=30, id=3)
    EtlQueries.cdcMergeIntoStore(dir, batch(Seq(
      (1L, "a", t(10), 1L, "U", 100L),
      (1L, "a", t(30), 3L, "D", 0L),
      (2L, "b", t(20), 2L, "U", 200L))))
    // batch 2 arrives LATE with an OLDER upsert for the deleted key —
    // it must not resurrect — plus a genuinely newer value for (2,b)
    EtlQueries.cdcMergeIntoStore(dir, batch(Seq(
      (1L, "a", t(20), 9L, "U", 999L),
      (2L, "b", t(40), 4L, "U", 400L))))
    val live = spark.read.parquet(dir).filter($"op" =!= "D")
      .select("user_id", "event_type", "value_micro")
      .as[(Long, String, Long)].collect().toSet
    assert(live == Set((2L, "b", 400L)))
    // the tombstone row itself is retained in the store
    val dead = spark.read.parquet(dir).filter($"op" === "D").count()
    assert(dead == 1L)
  }

  test("cdcVacuumTombstones ages tombstones past the horizon, both safety sides shown") {
    import spark.implicits._
    def batch(rows: Seq[(Long, String, java.sql.Timestamp, Long, String, Long)]) =
      rows.toDF("user_id", "event_id_ts", "ts", "event_id", "op", "value_micro")
        .withColumnRenamed("event_id_ts", "event_type")
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val dir = java.nio.file.Files.createTempDirectory("graft_vacuum")
      .resolve("state").toString
    // old tombstone (t=10) for (1,a); RECENT tombstone (t=100) for
    // (2,b); a live upsert for (3,c)
    EtlQueries.cdcMergeIntoStore(dir, batch(Seq(
      (1L, "a", t(10), 1L, "D", 0L),
      (2L, "b", t(100), 2L, "D", 0L),
      (3L, "c", t(90), 3L, "U", 300L))))
    EtlQueries.cdcVacuumTombstones(spark, dir, t(50))
    val after = spark.read.parquet(dir)
      .select("user_id", "event_type", "op").as[(Long, String, String)]
      .collect().toSet
    // expired tombstone reclaimed; young tombstone and upsert intact
    assert(after == Set((2L, "b", "D"), (3L, "c", "U")))
    // retained tombstone still shadows a late older upsert...
    EtlQueries.cdcMergeIntoStore(dir, batch(Seq((2L, "b", t(60), 9L, "U", 999L))))
    val live = spark.read.parquet(dir).filter($"op" =!= "D")
      .select("user_id", "event_type").as[(Long, String)].collect().toSet
    assert(!live.contains((2L, "b")), "young tombstone must still shadow")
    // ...while the vacuumed key is open to resurrection by a replay
    // OLDER than the vacuumed tombstone — the exact window the horizon
    // contract exists to keep closed (replays must never lag past it)
    EtlQueries.cdcMergeIntoStore(dir, batch(Seq((1L, "a", t(5), 8L, "U", 888L))))
    val resurrection = spark.read.parquet(dir).filter($"op" =!= "D")
      .select("user_id", "event_type").as[(Long, String)].collect().toSet
    assert(resurrection.contains((1L, "a")),
      "vacuum past the horizon re-opens the window — the contract's other side")
  }

  test("cdcVacuumTombstones physically reclaims a shard emptied by the vacuum") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vacuum2")
      .resolve("state").toString
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    // one single-key store: its only row is an expired tombstone, so
    // the vacuum must delete the whole shard directory (dynamic
    // overwrite alone cannot express an emptied partition)
    EtlQueries.cdcMergeIntoStore(dir,
      Seq((1L, "a", t(10), 1L, "D", 0L))
        .toDF("user_id", "event_type", "ts", "event_id", "op", "value_micro"))
    val shardDirsBefore = new java.io.File(dir).list().count(_.startsWith("shard="))
    assert(shardDirsBefore == 1)
    EtlQueries.cdcVacuumTombstones(spark, dir, t(50))
    val shardDirsAfter = new java.io.File(dir).list().count(_.startsWith("shard="))
    assert(shardDirsAfter == 0, "emptied shard directory must be reclaimed")
  }

  test("q102 streaming CDC state equals the one-shot batch apply (q96)") {
    val streamed = graft.streaming.StreamingQueries
      .q102StreamCdcApply(spark, sf()).collect().toSeq
    val oneShot = EtlQueries.q96CdcApply(spark, sf()).collect().toSeq
    assert(streamed == oneShot)
  }

  test("cdcMergeIntoStore converges to the one-shot apply under any batching") {
    import spark.implicits._
    // deterministic miniature change log: 40 versions over 6 keys,
    // every 5th a tombstone
    val log = (1L to 40L).map { id =>
      (id % 3, if (id % 2 == 0) "a" else "b",
        new java.sql.Timestamp(1000 + (id * 37) % 23 * 1000), id,
        if (id % 5 == 0) "D" else "U", id * 100)
    }.toDF("user_id", "event_type", "ts", "event_id", "op", "value_micro")
    val oneShot = EtlQueries.cdcApply(log,
        Seq("user_id", "event_type"), Seq("ts", "event_id"), "op",
        Seq("ts", "value_micro"))
      .orderBy("user_id", "event_type")
      .collect().map(_.toSeq).toSeq
    // three adversarial batchings: singleton batches in reverse order,
    // two interleaved halves, one big batch
    val batchings = Seq(
      (1L to 40L).reverse.map(i => log.filter($"event_id" === i)),
      Seq(log.filter($"event_id" % 2 === 0), log.filter($"event_id" % 2 === 1)),
      Seq(log))
    batchings.zipWithIndex.foreach { case (batches, i) =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_cdc_conv$i").resolve("state").toString
      batches.foreach(b => EtlQueries.cdcMergeIntoStore(dir, b))
      val replayed = spark.read.parquet(dir).filter($"op" =!= "D")
        .select("user_id", "event_type", "ts", "value_micro")
        .orderBy("user_id", "event_type")
        .collect().map(_.toSeq).toSeq
      assert(replayed == oneShot, s"batching #$i diverged")
    }
  }

  test("incrementalAgg equals the full recompute at every split point") {
    val ev = graft.sources.Tables.events(spark, sf())
      .select(col("user_id"), col("event_type"), col("ts"),
        round(col("value") * 1e6).cast("long").as("value_micro"))
    val full = ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"), sum("value_micro").as("sum_micro"))
      .orderBy("user_id", "event_type").collect().map(_.toSeq).toSeq
    Seq("2024-01-05", "2024-01-15", "2024-02-01" /* empty delta side */)
      .foreach { split =>
        val s = lit(split).cast("timestamp")
        val partials = ev.filter(col("ts") < s)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n_events"), sum("value_micro").as("sum_micro"))
        val got = EtlQueries.incrementalAgg(partials, ev.filter(col("ts") >= s))
          .orderBy("user_id", "event_type").collect().map(_.toSeq).toSeq
        assert(got == full, s"split $split diverged")
      }
  }

  test("q99 incremental refresh handles delta-only groups and empty deltas") {
    import spark.implicits._
    val partials = Seq(("a", 1L, 2L, 10L), ("b", 1L, 1L, 5L))
      .toDF("event_type", "user_id", "n_events", "sum_micro")
    val delta = Seq(("a", 1L, 7L), ("c", 9L, 3L))
      .toDF("event_type", "user_id", "value_micro")
    val out = EtlQueries.incrementalAgg(partials, delta)
      .orderBy("user_id", "event_type")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq((1L, "a", 3L, 17L), (1L, "b", 1L, 5L), (9L, "c", 1L, 3L)))
    val empty = delta.filter(lit(false))
    val same = EtlQueries.incrementalAgg(partials, empty)
      .orderBy("user_id", "event_type")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(same == Seq((1L, "a", 2L, 10L), (1L, "b", 1L, 5L)))
  }
  test("q151 commit protocol: a reader pinned to version N never sees the N+1 delete") {
    // pin the CURRENT version before the delete commits (if another
    // spec already ran q151, that is some version >= 0 — the contract
    // is the same: pinned snapshots are immutable)
    val store = SourceQueries.q151StoreDir(spark, sf("sf0.01"))
    val pinned = TableStore.snapshot(store)
    def agg(s: TableStore.Snapshot): Seq[(Long, Long)] =
      SourceQueries.q151ReadSnapshot(spark, s)
        .agg(count(lit(1)), sum("rev_micro")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = agg(pinned)
    // the delete commits a NEW version under the pinned reader
    val (_, committed, rewritten, total, keys) =
      SourceQueries.q151Commit(spark, sf("sf0.01"))
    assert(committed.version > pinned.version,
      s"delete must commit a new version: pinned=${pinned.version} " +
        s"committed=${committed.version}")
    assert(rewritten >= 1 && rewritten < total)
    // the pinned read is byte-identical to its pre-commit self: its
    // manifest and the files it names were never mutated
    assert(agg(pinned) == before,
      "a pinned snapshot changed under a concurrent commit")
    // while the committed snapshot serves the post-delete store
    val served = SourceQueries.q151ReadSnapshot(spark, committed)
    assert(served.filter(col("l_orderkey")
      .isin(keys.map(Long.box): _*)).count() == 0)
    // and the pointer now resolves to (at least) the committed version
    assert(TableStore.snapshot(store).version >= committed.version)
  }

  test("q151 commits keep only the generations a live manifest names") {
    val store = SourceQueries.q151StoreDir(spark, sf("sf0.01"))
    def listed(sub: String, prefix: String): Set[Long] = {
      val d = new java.io.File(s"$store/$sub")
      Option(d.list()).toSeq.flatten.collect {
        case n if n.startsWith(prefix) && n.drop(prefix.length).nonEmpty &&
            n.drop(prefix.length).forall(_.isDigit) => n.drop(prefix.length).toLong
      }.toSet
    }
    val commits = (1 to 3).map(_ => SourceQueries.q151Commit(spark, sf("sf0.01")))
    val cur = commits.last._2.version
    assert(cur >= 3L, s"three deletes must commit three versions: at $cur")
    // the base (every delete plans against it), the current version and
    // its parent; every older rewrite generation is reclaimed
    assert(listed("manifests", "m") == Set(0L, cur - 1, cur),
      s"manifests: ${listed("manifests", "m")}")
    assert(listed("files", "rw") == Set(cur - 1, cur),
      s"rewrite generations: ${listed("files", "rw")}")
    // both kept snapshots still read whole, with the keys deleted
    val keys = commits.last._5.map(Long.box)
    Seq(cur - 1, cur).foreach { v =>
      val s = TableStore.Snapshot(store, v)
      assert(SourceQueries.q151ReadSnapshot(spark, s)
        .filter(col("l_orderkey").isin(keys: _*)).count() == 0)
    }
  }

  test("TableStore: manifests and meta are immutable per version, pointer flip is last") {
    import spark.implicits._
    val dir = graft.sources.TempDirs.create("ts_spec").toString
    val s0 = TableStore.commit(spark, dir,
      Seq("f1", "f2").toDF("path"), Map("k" -> "v0"))
    assert(s0.version == 0L && TableStore.currentVersion(dir).contains(0L))
    assert(TableStore.meta(s0) == Map("k" -> "v0"))
    val s1 = TableStore.commit(spark, dir,
      Seq("f1", "f3").toDF("path"), Map("k" -> "v1", "added" -> "x"))
    assert(s1.version == 1L && TableStore.currentVersion(dir).contains(1L))
    // version 0 remains fully readable after version 1 commits
    assert(TableStore.filePaths(spark, s0).sorted == Seq("f1", "f2"))
    assert(TableStore.meta(s0) == Map("k" -> "v0"))
    assert(TableStore.filePaths(spark, s1).sorted == Seq("f1", "f3"))
    assert(TableStore.meta(s1) == Map("k" -> "v1", "added" -> "x"))
  }

  test("TableStore: two interleaved committers — the loser detects the conflict, no version orphaned") {
    import spark.implicits._
    val dir = graft.sources.TempDirs.create("ts_cas").toString
    // both writers read the same parent...
    val s0 = TableStore.commitIfParent(spark, dir,
      Seq("base").toDF("path"), Map("writer" -> "init"), None)
    assert(s0.version == 0L)
    val pinned = TableStore.snapshot(dir)
    val parentBoth = TableStore.currentVersion(dir) // Some(0), read by A and B
    // ...A lands first...
    val a = TableStore.commitIfParent(spark, dir,
      Seq("base", "a1").toDF("path"), Map("writer" -> "A"), parentBoth)
    assert(a.version == 1L)
    // ...and B, still building against parent 0, must FAIL LOUDLY —
    // before the old blind flip would have orphaned A's version 1
    val conflict = intercept[TableStore.CommitConflictException] {
      TableStore.commitIfParent(spark, dir,
        Seq("base", "b1").toDF("path"), Map("writer" -> "B"), parentBoth)
    }
    assert(conflict.expectedParent.contains(0L) &&
      conflict.actualCurrent.contains(1L),
      "the conflict must name both versions so the caller can rebuild")
    // B's retry against the CURRENT version lands as v2; nothing lost
    val b = TableStore.commitIfParent(spark, dir,
      Seq("base", "a1", "b1").toDF("path"), Map("writer" -> "B"),
      TableStore.currentVersion(dir))
    assert(b.version == 2L)
    // every committed version remains fully readable (none orphaned)
    assert(TableStore.filePaths(spark, TableStore.Snapshot(dir, 1L))
      .sorted == Seq("a1", "base"))
    assert(TableStore.meta(TableStore.Snapshot(dir, 1L)) == Map("writer" -> "A"))
    assert(TableStore.filePaths(spark, b).sorted == Seq("a1", "b1", "base"))
    // the reader pinned before the race read the same store throughout
    assert(TableStore.filePaths(spark, pinned) == Seq("base"))
    // racing the EMPTY store: a second creator conflicts too
    val dir2 = graft.sources.TempDirs.create("ts_cas_empty").toString
    TableStore.commitIfParent(spark, dir2, Seq("x").toDF("path"), Map(), None)
    val c2 = intercept[TableStore.CommitConflictException] {
      TableStore.commitIfParent(spark, dir2, Seq("y").toDF("path"), Map(), None)
    }
    assert(c2.expectedParent.isEmpty && c2.actualCurrent.contains(0L))
  }

  test("TableStore: concurrent blind commits serialize — every writer lands, no version lost") {
    import spark.implicits._
    val dir = graft.sources.TempDirs.create("ts_lock").toString
    val perWriter = 4
    val threads = (1 to 2).map { w =>
      new Thread(() =>
        (1 to perWriter).foreach { i =>
          TableStore.commit(spark, dir,
            Seq(s"w${w}_$i").toDF("path"), Map("writer" -> s"w$w"))
        })
    }
    threads.foreach { t => t.setDaemon(true); t.start() }
    threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), "a blind committer never finished")
    // 8 commits -> versions 0..7, each manifest readable and distinct:
    // under the pre-lock protocol two racers could claim the same
    // version and one manifest would be silently overwritten
    assert(TableStore.currentVersion(dir).contains((2 * perWriter - 1).toLong))
    val seen = (0L until 2L * perWriter).flatMap(v =>
      TableStore.filePaths(spark, TableStore.Snapshot(dir, v)))
    assert(seen.distinct.size == 2 * perWriter,
      s"every writer's manifest must survive: $seen")
  }

  test("q158 vacuum reclaims exactly the stranded rewrite generation") {
    val (dir, rw1Picked, droppedManifests, deletedFiles) =
      SourceQueries.q158VacuumedStore(spark, sf("sf0.01"))
    assert(rw1Picked >= 1)
    // v0 and v1 reaped, their stranded rewrite files physically gone
    assert(droppedManifests == 2, s"dropped=$droppedManifests")
    assert(deletedFiles >= 1, s"deleted=$deletedFiles")
    assert(!new java.io.File(s"$dir/files/rw1").exists,
      "stranded rewrite generation must be reclaimed")
    assert(new java.io.File(s"$dir/files/rw2").exists,
      "the referenced rewrite generation must survive")
    // the current version is fully intact: row accounting vs raw
    val cur = TableStore.snapshot(dir)
    assert(cur.version == 2L)
    val served = spark.read.parquet(
      TableStore.filePaths(spark, cur): _*)
    val raw = Tables.lineitem(spark, sf("sf0.01"))
    val deletedRows = raw.filter(
      pmod(col("l_orderkey").cast("long"), lit(101L)) === 7L &&
        col("l_orderkey").cast("long").isInCollection(
          raw.select(col("l_orderkey").cast("long").as("k"))
            .filter(pmod(col("k"), lit(101L)) === 7L)
            .distinct().orderBy("k").limit(3)
            .collect().map(_.getLong(0)).toSeq)).count()
    assert(served.count() == raw.count() - deletedRows)
    // base fact files (outside the store's own tree) all still exist
    TableStore.filePaths(spark, cur)
      .filterNot(_.contains("/files/rw"))
      .map(p => if (p.startsWith("file:")) new java.net.URI(p).getPath else p)
      .foreach(p => assert(new java.io.File(p).exists, s"base file lost: $p"))
  }

  test("q157 evolution: old files unrewritten, default declared at the evolving commit") {
    val dir = SourceQueries.q157StoreDir(spark, sf("sf0.01"))
    val v0 = TableStore.Snapshot(dir, 0L)
    val v1 = TableStore.snapshot(dir)
    assert(v1.version == 1L)
    // the old generation's files are IN version 1 unchanged — evolution
    // rewrote nothing
    val p0 = TableStore.filePaths(spark, v0).toSet
    val p1 = TableStore.filePaths(spark, v1).toSet
    assert(p0.subsetOf(p1) && p1.size > p0.size)
    // version 0 predates the column: reading it yields the old schema
    val old = spark.read.option("mergeSchema", "true")
      .parquet(TableStore.filePaths(spark, v0): _*)
    assert(!old.columns.contains("priority_rank"))
    // the default is version-1 metadata, absent at version 0
    assert(TableStore.meta(v0).isEmpty)
    assert(TableStore.meta(v1) == Map("default.priority_rank" -> "-1"))
    // backfill accounting: exactly the old-generation rows carry it
    val evens = Tables.orders(spark, sf("sf0.01"))
      .filter(col("o_orderkey") % 2 === 0).count()
    val backfilled = SourceQueries.q157EvolvedRead(spark, sf("sf0.01"))
      .agg(sum("n_backfilled")).collect()(0).getLong(0)
    assert(backfilled == evens, s"backfilled=$backfilled evens=$evens")
  }
}
