package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.queries.AnalyticsQueries
import graft.sources.{DerivedStore, TableStore}

/** Pins the persisted derived-table contract (DerivedStore): a
  * deterministic derived table is committed ONCE per fixture
  * fingerprint and read back by later calls — including fresh JVMs
  * pointed at the same store — while a stale or foreign version at the
  * store is rebuilt instead of served. This is the round-14 cold-start
  * fix (q115's first sf10 trial was 1.7x steady state, all of it
  * adjacency build), generalized in round 16 to the SHARED co-shipment
  * pair store that q115/q116/q139 all project from. */
class AdjacencyStoreSpec extends SparkSpec {

  test("adjacency store: build once, read back, fingerprint-guarded") {
    val root = java.nio.file.Files.createTempDirectory("graft_adj_spec").toString
    spark.conf.set("graft.q115.adjacencyDir", root)
    // one pointer per FIXTURE under the root (a shared pointer would
    // ping-pong between fixtures and never hit)
    val scoped = s"$root/${sf().replaceAll("[^A-Za-z0-9._-]", "_")}"
    try {
      val first = AnalyticsQueries.q115AdjacencyFiles(spark, sf())
      assert(first.nonEmpty)
      assert(TableStore.currentVersion(scoped).contains(0L))

      // fresh JVM simulated: drop the in-process memo — the store, not
      // the memo, must satisfy the second call (no new version)
      DerivedStore.committedFiles.clear()
      val second = AnalyticsQueries.q115AdjacencyFiles(spark, sf())
      assert(second == first)
      assert(TableStore.currentVersion(scoped).contains(0L),
        "read-back must not recommit")

      // a committed version whose fingerprint does NOT match the
      // fixture (regenerated files, foreign data) must be rebuilt over,
      // never served stale
      import spark.implicits._
      TableStore.commit(spark, scoped, first.toDF("path"),
        Map("fingerprint" -> "stale"))
      assert(TableStore.currentVersion(scoped).contains(1L))
      DerivedStore.committedFiles.clear()
      val third = AnalyticsQueries.q115AdjacencyFiles(spark, sf())
      assert(third.nonEmpty)
      assert(TableStore.currentVersion(scoped).contains(2L),
        "fingerprint mismatch must rebuild, not serve stale files")

      // two fixtures under one root coexist in disjoint scoped stores
      DerivedStore.committedFiles.clear()
      val other = AnalyticsQueries.q115AdjacencyFiles(spark, sf("sf0.01"))
      assert(other.nonEmpty && other != first)
      assert(TableStore.currentVersion(scoped).contains(2L),
        "the other fixture must not move this fixture's pointer")

      // and the query through the store still answers (full rank check
      // is the q115 oracle row; here: plumbing sanity)
      assert(AnalyticsQueries.q115PageRank(spark, sf("sf0.01")).count() > 0)
    } finally {
      spark.conf.unset("graft.q115.adjacencyDir")
      DerivedStore.committedFiles.clear()
    }
  }

  test("q115 loop partitions derive from adjacency bytes, not cores") {
    import AnalyticsQueries.{q115LoopPartitionsAuto => auto}
    // tiny adjacency (the sf0.1 bench shape): 1 partition at ANY core
    // count — the r19 fix for the 32c-vs-8c pathology (driver r18
    // scaling 0.15: 18.35 s at 32c vs ~2.8 s at 8c, identical code)
    assert(auto(2 << 20, 8) == 1)
    assert(auto(2 << 20, 32) == 1)
    // data-sized in the middle: one partition per 16 MiB of parquet
    assert(auto(64L << 20, 32) == 4)
    assert(auto(1L << 30, 32) == 64)
    // ceiling: 4x parallelism (a 100 TB adjacency saturates it, and it
    // GROWS with the cluster — no constant tuned for either scale)
    assert(auto(10L << 40, 32) == 128)
    assert(auto(10L << 40, 256) == 1024)
    // floor: never zero partitions
    assert(auto(0L, 32) == 1)

    // the conf pin inside q115PageRank must not leak: the session's
    // shuffle.partitions is restored after the eager loop runs
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    AnalyticsQueries.q115PageRank(spark, sf("sf0.01")).count()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("derived store: a CAS-losing rebuild cannot clobber the winner's committed files") {
    // Two sessions race the SAME rebuild (same parent, same
    // fingerprint). The loser's build is still in flight when the
    // winner commits — and a parquet write in mode("overwrite") first
    // DELETES its target directory, then re-creates the part files
    // under fresh names (part names carry a per-write UUID). If both
    // attempts staged into the shared files/v0 path, the loser's
    // overwrite would delete the winner's already-committed files and
    // replace them under names the committed manifest does not know —
    // the store would serve a manifest of vanished paths with no
    // error. Each attempt must therefore stage into its OWN directory.
    val store = java.nio.file.Files.createTempDirectory("graft_ds_race")
      .resolve("store").toString
    val fp = "race-fp-v1"
    def writePart(dir: String, name: String): Unit = {
      val d = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve(name), "x".getBytes("UTF-8"))
      ()
    }
    def overwriteInto(dir: String, name: String): Unit = {
      // mode("overwrite") semantics: clear the target, then write
      val d = new java.io.File(dir)
      if (d.isDirectory) d.listFiles().foreach(_.delete())
      writePart(dir, name)
    }
    val loserEntered = new java.util.concurrent.CountDownLatch(1)
    val winnerDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var loserFiles: Seq[String] = null
    @volatile var loserErr: Throwable = null
    DerivedStore.committedFiles.clear()
    val loser = new Thread(() =>
      try {
        loserFiles = DerivedStore.filesFor(spark, store, fp) { dataDir =>
          loserEntered.countDown()
          // keep building until AFTER the winner has committed
          if (!winnerDone.await(2, MINUTES))
            throw new IllegalStateException("the winner never committed")
          overwriteInto(dataDir, "part-loser.parquet")
        }
      } catch { case t: Throwable => loserErr = t })
    // every wait below is bounded: a builder that blocks on the loser's
    // build (a build lock on this key) fails this test by name, not the
    // suite by its outer timeout
    loser.setDaemon(true)
    loser.start()
    assert(loserEntered.await(2, MINUTES), "the loser never started its build")
    // the winner builds and commits version 0 while the loser is mid-build
    val winnerFiles =
      try Await.result(Future(DerivedStore.filesFor(spark, store, fp) { dataDir =>
        writePart(dataDir, "part-winner.parquet")
      })(ExecutionContext.global), 2.minutes)
      finally winnerDone.countDown()
    loser.join(60000)
    assert(!loser.isAlive, "the loser's build did not finish")
    assert(loserErr == null, s"loser thread failed: $loserErr")
    assert(winnerFiles.nonEmpty)
    // the loser's CAS commit conflicts, and its retry reads the
    // winner's committed version (same fingerprint = same derivation)
    assert(loserFiles == winnerFiles,
      "the racing rebuild must converge on the committed version")
    // the decisive check: the committed files still EXIST — the
    // loser's in-flight overwrite must not have deleted them
    winnerFiles.foreach(p => assert(new java.io.File(p).exists(),
      s"committed data file clobbered by the losing rebuild: $p"))
    assert(TableStore.currentVersion(store).contains(0L),
      "exactly one version commits for one fingerprint")
    // and the loser reclaimed its own staging dir on the way out — a
    // lost race must not leak a full-size orphaned tree under files/
    val staged = Option(new java.io.File(s"$store/files").listFiles())
      .getOrElse(Array.empty).map(_.getName).toSeq
    assert(staged.size == 1 &&
      winnerFiles.head.contains(staged.head),
      s"lost attempt's staging dir leaked: $staged")
    DerivedStore.committedFiles.clear()
  }

  test("derived-store vacuum reclaims aged crash-orphans, spares in-flight and committed") {
    // A build that CRASHES between staging and commit leaves a
    // full-size files/v{N}_<id> tree no manifest references — on a
    // 100 TB pipeline, a corpus-sized leak per crash. vacuum's contract:
    // reclaim exactly the unreferenced-AND-aged attempt dirs; an
    // in-flight attempt (fresh mtime) and every committed file survive,
    // and a reader pinned to any retained version stays green.
    val store = java.nio.file.Files.createTempDirectory("graft_ds_vac")
      .resolve("store").toString
    def writePart(dir: String, name: String): java.io.File = {
      val d = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve(name), "x".getBytes("UTF-8"))
      d.resolve(name).toFile
    }
    DerivedStore.committedFiles.clear()
    // one committed version (the normal path)
    val committed = DerivedStore.filesFor(spark, store, "vac-fp") { dataDir =>
      writePart(dataDir, "part-committed.parquet"); ()
    }
    assert(committed.nonEmpty)
    val pinned = TableStore.snapshot(store) // a reader pinned to v0
    // a crashed attempt: staged tree, never committed, OLD mtime
    val orphan = writePart(s"$store/files/v1_deadbeef", "part-orphan.parquet")
    val old = System.currentTimeMillis() - 7 * 24 * 3600 * 1000L
    assert(orphan.setLastModified(old) &&
      orphan.getParentFile.setLastModified(old))
    // an in-flight attempt: staged tree, never committed, FRESH mtime
    val inflight = writePart(s"$store/files/v1_cafebabe", "part-inflight.parquet")
    val reclaimed = DerivedStore.vacuum(spark, store,
      olderThanMs = 24 * 3600 * 1000L)
    assert(reclaimed.size == 1 && reclaimed.head.contains("v1_deadbeef"),
      s"exactly the aged orphan must go: $reclaimed")
    assert(!orphan.exists() && !orphan.getParentFile.exists(),
      "the aged orphan tree must be deleted")
    assert(inflight.exists(),
      "a fresh attempt dir may be a build still in flight — never swept")
    committed.foreach(p => assert(new java.io.File(p).exists(),
      s"committed data file swept by vacuum: $p"))
    // the pinned reader still resolves its manifest to readable files
    assert(TableStore.filePaths(spark, pinned) == committed)
    // idempotent: nothing left to reclaim
    assert(DerivedStore.vacuum(spark, store, 24 * 3600 * 1000L).isEmpty)
    DerivedStore.committedFiles.clear()
  }

  test("a successful commit opportunistically vacuums aged crash-orphans") {
    // the lifecycle wiring: no operator calls vacuum — the NEXT
    // successful filesFor commit must reclaim an aged orphan by itself
    // (commits happen exactly as often as new source versions, the
    // right cadence for a sweep), while a fresh attempt dir (a build
    // possibly still in flight) survives.
    val store = java.nio.file.Files.createTempDirectory("graft_ds_autovac")
      .resolve("store").toString
    def writePart(dir: String, name: String): java.io.File = {
      val d = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve(name), "x".getBytes("UTF-8"))
      d.resolve(name).toFile
    }
    DerivedStore.committedFiles.clear()
    // a crashed attempt from "yesterday's" pipeline run: staged tree,
    // never committed, mtime past the commit-vacuum horizon
    val orphan = writePart(s"$store/files/v0_deadbeef", "part-orphan.parquet")
    val old = System.currentTimeMillis() - DerivedStore.CommitVacuumHorizonMs - 3600 * 1000L
    assert(orphan.setLastModified(old) &&
      orphan.getParentFile.setLastModified(old))
    // an in-flight attempt with a FRESH mtime — must survive the sweep
    val inflight = writePart(s"$store/files/v0_cafebabe", "part-inflight.parquet")
    // the normal lifecycle event: a build commits
    val committed = DerivedStore.filesFor(spark, store, "autovac-fp") { dataDir =>
      writePart(dataDir, "part-committed.parquet"); ()
    }
    assert(committed.nonEmpty)
    assert(!orphan.exists() && !orphan.getParentFile.exists(),
      "the commit must have reclaimed the aged orphan without an explicit vacuum call")
    assert(inflight.exists(),
      "a fresh attempt dir may be a build still in flight — never swept by the commit")
    committed.foreach(p => assert(new java.io.File(p).exists(),
      s"the just-committed files must survive their own commit's vacuum: $p"))
    DerivedStore.committedFiles.clear()
  }

  test("shared co-shipment pair store: q115/q116/q139 read ONE committed build") {
    val root = java.nio.file.Files.createTempDirectory("graft_pairs_spec").toString
    spark.conf.set("graft.coship.pairsDir", root)
    val scoped = s"$root/${sf().replaceAll("[^A-Za-z0-9._-]", "_")}"
    try {
      // first consumer builds version 0...
      val files = AnalyticsQueries.coShipPairFiles(spark, sf())
      assert(files.nonEmpty)
      assert(TableStore.currentVersion(scoped).contains(0L))
      // ...every later consumer — across simulated fresh JVMs — reads
      // the SAME version: the self-join is paid once per fixture, not
      // once per graph query
      DerivedStore.committedFiles.clear()
      assert(AnalyticsQueries.q116MarketBasket(spark, sf()).count() > 0)
      DerivedStore.committedFiles.clear()
      assert(AnalyticsQueries.q139TriangleCount(spark, sf()).count() > 0)
      assert(TableStore.currentVersion(scoped).contains(0L),
        "consumers must read the committed build, not re-derive")
      // pair-store content sanity against a direct derivation: distinct
      // unordered pairs with per-order co-occurrence counts
      import org.apache.spark.sql.functions._
      val li = graft.sources.Tables.lineitem(spark, sf())
        .select("l_orderkey", "l_partkey").distinct()
      val direct = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .agg(count(lit(1)).as("n_ab"))
      val stored = spark.read.parquet(files: _*)
      assert(stored.count() == direct.count())
      assert(stored.exceptAll(direct).isEmpty && direct.exceptAll(stored).isEmpty)
    } finally {
      spark.conf.unset("graft.coship.pairsDir")
      DerivedStore.committedFiles.clear()
    }
  }

  test("shared dup-pair store: q39/q48/q59/q51 read ONE committed build") {
    import graft.queries.PipelineQueries
    val root = java.nio.file.Files.createTempDirectory("graft_dup_spec").toString
    spark.conf.set("graft.dedup.pairsDir", root)
    val scoped = s"$root/${sf().replaceAll("[^A-Za-z0-9._-]", "_")}"
    try {
      // the first consumer pays the prefix-filtered verify join once...
      val q39 = PipelineQueries.q39NgramJaccardCapped(spark, sf()).collect()
      assert(TableStore.currentVersion(scoped).contains(0L))
      // ...and clustering (both algorithms) + curation — across
      // simulated fresh JVMs — read the SAME committed version
      DerivedStore.committedFiles.clear()
      val q48 = PipelineQueries.q48DedupClusters(spark, sf()).count()
      DerivedStore.committedFiles.clear()
      val q59 = PipelineQueries.q59DedupClustersStar(spark, sf()).count()
      assert(q48 == q59, "both clustering algorithms see the same pairs")
      DerivedStore.committedFiles.clear()
      assert(PipelineQueries.q51CorpusCuration(spark, sf()).count() > 0)
      assert(TableStore.currentVersion(scoped).contains(0L),
        "consumers must read the committed pairs, not re-derive them")
      // content identity vs the direct derivation — the store changes
      // WHERE the pairs come from, never what they are
      val direct = graft.operators.Dedup.ngramJaccardPairsCapped(
        graft.sources.Tables.documents(spark, sf()), "doc_id", "text",
        threshold = 0.8, maxDocFreq = 5).collect()
      assert(q39.map(_.toSeq).toSet == direct.map(_.toSeq).toSet)
    } finally {
      spark.conf.unset("graft.dedup.pairsDir")
      DerivedStore.committedFiles.clear()
    }
  }
}
