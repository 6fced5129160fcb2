package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned immutable-file table store with a single-pointer atomic
  * commit — the Delta `_delta_log` shape reduced to its invariant.
  * Data files are immutable once written; each version is described by
  * an immutable MANIFEST (one row per file: path + whatever stats the
  * planner wants — ranges, blooms); the only mutable object in the
  * whole store is a one-line pointer file naming the current version,
  * replaced by write-temp + ATOMIC_MOVE (the
  * [[SnapshotCache]] flip). A reader resolves the pointer ONCE into a
  * [[TableStore.Snapshot]] and plans + reads entirely against that
  * manifest, never the pointer again; because neither the manifest nor
  * the files it names are ever mutated, the read stays consistent
  * while any number of later versions commit underneath it — it can
  * never observe untouched ∪ half-written files, which is exactly the
  * race a bare directory swap admits.
  *
  * Commit ordering is the crash contract: data files first, manifest
  * second, pointer flip last. A crash before the flip leaves orphan
  * files and an unreferenced manifest — invisible to every reader, and
  * reclaimable by any vacuum that keeps referenced paths.
  *
  * MULTI-WRITER: commits are serialized per store by a two-level lock
  * — a JVM-wide monitor per dir (threads of one process; OS file locks
  * within a JVM throw OverlappingFileLockException rather than queue)
  * plus an OS advisory `FileChannel.lock` on `_commit_lock` (separate
  * processes; released by the OS on process death, so a crashed
  * committer can never wedge the store). [[commitIfParent]] is the
  * optimistic-concurrency entry real stores expose (Delta/Iceberg's
  * expected-version conditional put): the caller names the version it
  * BUILT AGAINST, and the commit lands only if the pointer still names
  * it — otherwise [[CommitConflictException]] names both versions and
  * the caller rebuilds against current and retries. Without the check
  * the loser of a two-writer race would flip the pointer over the
  * winner's version, silently orphaning it. Plain [[commit]] keeps its
  * last-writer-wins semantics (read current under the lock) for
  * single-writer derived tables whose content is fingerprint-keyed
  * anyway. The file lock covers one shared filesystem; an object-store
  * deployment swaps this for the store's conditional put, exactly as
  * Delta's LogStore does.
  */
object TableStore {

  /** The optimistic commit lost its race: the store moved past the
    * parent this writer built against. Nothing was written — no
    * version is lost or orphaned; rebuild against `actualCurrent` and
    * retry (or surface the conflict — the caller's choice). */
  final case class CommitConflictException(dir: String,
      expectedParent: Option[Long], actualCurrent: Option[Long])
    extends RuntimeException(
      s"TableStore: commit conflict in $dir — built against version " +
        s"${expectedParent.fold("<empty store>")(_.toString)} but the store is now at " +
        s"${actualCurrent.fold("<empty store>")(_.toString)}: a concurrent writer " +
        "committed first. Rebuild against the current version and retry; " +
        "no version was lost or orphaned.")

  // in-JVM half of the commit lock: one monitor per store dir, from
  // the keyed lock Scaffold builds under
  private def withCommitLock[T](dir: String)(f: => T): T =
    Scaffold.withKeyLock((TableStore, dir)) {
      Files.createDirectories(Paths.get(dir))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(dir, "_commit_lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try f finally lk.release()
      } finally ch.close()
    }

  /** A pinned version: all planning for one query flows through this,
    * so the query's view cannot change mid-read. */
  final case class Snapshot(dir: String, version: Long) {
    def manifestPath: String = TableStore.manifestPath(dir, version)
    def metaPath: String = manifestPath + ".meta"
  }

  private def manifestPath(dir: String, v: Long) = s"$dir/manifests/m$v"

  private def pointer(dir: String) = Paths.get(dir, "_current")

  def currentVersion(dir: String): Option[Long] = {
    val p = pointer(dir)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), "UTF-8").trim.toLong)
  }

  /** Pin the current committed version. */
  def snapshot(dir: String): Snapshot =
    Snapshot(dir, currentVersion(dir).getOrElse(
      sys.error(s"TableStore: no committed version in $dir")))

  /** Commit `manifest` as the next version: manifest parquet + sidecar
    * metadata first (both named by the version, hence immutable), then
    * one atomic pointer flip. `meta` carries table-level properties that
    * must version WITH the file list — e.g. a column default declared
    * when the schema evolved (`default.<col>` -> literal). Serialized
    * per store; last-writer-wins across concurrent callers (each builds
    * on whatever is current when ITS turn comes — use
    * [[commitIfParent]] when the manifest's content depends on the
    * parent version it read). */
  def commit(spark: SparkSession, dir: String, manifest: DataFrame,
             meta: Map[String, String] = Map.empty): Snapshot =
    withCommitLock(dir) {
      commitLocked(spark, dir, manifest, meta, currentVersion(dir))
    }

  /** Optimistic-concurrency commit: land as `expectedParent + 1` only
    * if the store's current version is still `expectedParent` (None =
    * "I expect to create the empty store's first version"). Throws
    * [[CommitConflictException]] — before writing anything — when a
    * concurrent writer got there first. This is the conditional-put
    * shape every multi-writer table format serializes commits with. */
  def commitIfParent(spark: SparkSession, dir: String, manifest: DataFrame,
                     meta: Map[String, String],
                     expectedParent: Option[Long]): Snapshot =
    withCommitLock(dir) {
      val cur = currentVersion(dir)
      if (cur != expectedParent)
        throw CommitConflictException(dir, expectedParent, cur)
      commitLocked(spark, dir, manifest, meta, cur)
    }

  private def commitLocked(spark: SparkSession, dir: String,
                           manifest: DataFrame, meta: Map[String, String],
                           parent: Option[Long]): Snapshot = {
    val next = Snapshot(dir, parent.fold(0L)(_ + 1))
    manifest.write.mode("overwrite").parquet(next.manifestPath)
    val metaText = meta.toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString("\n")
    Files.write(Paths.get(next.metaPath), metaText.getBytes("UTF-8"))
    val tmp = Paths.get(dir, "_current_tmp")
    Files.write(tmp, next.version.toString.getBytes("UTF-8"))
    Files.move(tmp, pointer(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }

  def manifest(spark: SparkSession, s: Snapshot): DataFrame =
    spark.read.parquet(s.manifestPath)

  def meta(s: Snapshot): Map[String, String] = {
    val p = Paths.get(s.metaPath)
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p), "UTF-8").split("\n").toSeq
      .filter(_.contains("="))
      .map { line =>
        val i = line.indexOf('='); line.take(i) -> line.drop(i + 1)
      }.toMap
  }

  /** The snapshot's data file paths — bounded driver metadata (one
    * string per file, the pruned-file-list shape every table format's
    * driver materializes). */
  def filePaths(spark: SparkSession, s: Snapshot): Seq[String] =
    manifest(spark, s).select("path").collect().map(_.getString(0)).toSeq

  /** Retention GC: drop manifests older than the newest `retain`
    * versions, then delete STORE-OWNED data files (under `dir/files/`)
    * that no retained manifest references. Files outside the store's
    * own tree (e.g. a shared base layout the manifests point into) are
    * never touched — vacuum owns only what commit wrote. Deletion
    * order is the reverse of commit: files are unlinked only AFTER the
    * manifests that referenced them are gone, so a crash mid-vacuum
    * still leaves every retained version fully readable. Readers pinned
    * beyond the horizon are the same contract as every table format's
    * VACUUM: retention must exceed the longest running read. Versions
    * in `keep` are retained wherever they fall (a base version other
    * commits are planned against). Returns (dropped manifest versions,
    * deleted data files). */
  def vacuum(spark: SparkSession, dir: String, retain: Int,
             keep: Set[Long] = Set.empty): (Int, Int) = {
    require(retain >= 1, "must retain at least the current version")
    val cur = currentVersion(dir).getOrElse(
      sys.error(s"TableStore: no committed version in $dir"))
    val horizon = math.max(0L, cur - retain + 1)
    val manifestsDir = Paths.get(dir, "manifests")
    val versions = Files.list(manifestsDir).iterator().asScala.toSeq
      .flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith("m") && n.length > 1 && n.drop(1).forall(_.isDigit))
          Some(n.drop(1).toLong -> p)
        else None
      }
    val dropped = versions.collect {
      case (v, p) if v < horizon && !keep(v) => p
    }
    // manifests record Hadoop-style file URIs; vacuum walks local
    // paths — normalize both to the bare filesystem path
    def norm(s: String): String =
      if (s.startsWith("file:")) new java.net.URI(s).getPath else s
    val retained = (horizon to cur) ++ keep.filter(v => v < horizon &&
      versions.exists(_._1 == v))
    val retainedPaths = retained.flatMap(v =>
      filePaths(spark, Snapshot(dir, v))).map(norm).toSet
    dropped.foreach { m =>
      TempDirs.deleteRecursively(m)
      Files.deleteIfExists(Paths.get(m.toString + ".meta"))
      ()
    }
    val owned = Paths.get(dir, "files")
    var deleted = 0
    if (Files.isDirectory(owned)) {
      val all = Files.walk(owned).iterator().asScala.toSeq
      all.filter(p => Files.isRegularFile(p) &&
          !retainedPaths.contains(p.toString))
        .foreach { p => Files.delete(p); deleted += 1 }
      // bottom-up sweep of now-empty directories
      all.filter(p => Files.isDirectory(p) && p != owned)
        .sortBy(-_.getNameCount)
        .foreach { d =>
          if (Files.isDirectory(d) && !Files.list(d).iterator().hasNext)
            Files.delete(d)
        }
    }
    (dropped.size, deleted)
  }
}
