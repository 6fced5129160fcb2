package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fingerprint-keyed DERIVED tables on [[TableStore]] — the build-once
  * pattern q115's adjacency proved out (cold start 137 s -> 37 s at
  * sf10), factored so any expensive deterministic derivation can use
  * it: read the committed version back when its fingerprint matches
  * the CURRENT source files, rebuild + commit the next version when it
  * does not (fixture regenerated, other fixture at the same dir). The
  * pointer flip is atomic, so a reader never sees a half-written
  * store; commits go through [[TableStore.commitIfParent]], so two
  * sessions racing the same rebuild serialize and the loser reuses the
  * winner's version instead of orphaning it.
  *
  * The FINGERPRINT is the identity of the derivation's input: every
  * scan file's path, length, and modification time, resolved through
  * the Hadoop FileSystem of each path's own scheme — NOT
  * `java.io.File(new URI(...))`, which throws for bare paths and any
  * non-file scheme (hdfs/s3), silently degrading every length to -1 so
  * the fingerprint collapsed to paths-only and a fixture regenerated
  * IN PLACE with same-named files would have served stale derived data
  * with no error (round-15 ADVICE). Modification time is in the key
  * for exactly that in-place-regeneration case: same path, same
  * length, new content.
  *
  * At 100 TB this is the materialized-view discipline: a derivation
  * whose cost is a fact-table self-join must be paid once per source
  * version, not once per query run; the fingerprint is the staleness
  * contract that makes reuse safe.
  */
object DerivedStore {

  // committed data-file paths per (storeDir | fingerprint), so repeat
  // calls within a session skip even the pointer read; builds are not
  // serialized here, the store's CAS commit does that (filesFor). Specs
  // clear it to simulate a fresh JVM: the STORE must then satisfy the
  // next call.
  private[graft] val committedFiles =
    new Scaffold[String, Seq[String]](present, serialBuilds = false)
  // run-scoped store roots for sessions that configure none
  private val tempRoots = Scaffold.dirs[String]

  private def present(files: Seq[String]): Boolean =
    files.forall(f => Files.exists(Paths.get(f)))

  /** Identity of `df`'s physical inputs: sorted (path, length, mtime)
    * digested MD5 (content identity, not crypto). Stat failures hash a
    * marker INCLUDING the error class — two files that both fail to
    * stat do not silently collide with each other across runs the way
    * the old -1 sentinel did. */
  def fingerprint(spark: SparkSession, df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hadoopConf = spark.sessionState.newHadoopConf()
    df.inputFiles.sorted.foreach { f =>
      val stat =
        try {
          val p = new org.apache.hadoop.fs.Path(f)
          val st = p.getFileSystem(hadoopConf).getFileStatus(p)
          s"${st.getLen}:${st.getModificationTime}"
        } catch {
          case t: Throwable => s"stat-failed:${t.getClass.getName}"
        }
      md.update(s"$f:$stat\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Resolve the store root for a derivation: `confKey`'s root scoped
    * PER FIXTURE (a TableStore has one current-version pointer; two
    * fixtures sharing a store would ping-pong it — e.g. the bench's
    * sf0.001 warmup alternating with the measured SF — and no one
    * would ever get a read-back hit), else a run-scoped temp dir that
    * still amortizes the build across trials within one JVM. */
  def storeDirFor(spark: SparkSession, confKey: String, name: String,
                  sfDir: String): String =
    spark.conf.getOption(confKey)
      .map(root => s"$root/${sfDir.replaceAll("[^A-Za-z0-9._-]", "_")}")
      .getOrElse(
        tempRoots.inDir(s"$name|$sfDir", s"graft_derived_$name")(_.toString))

  /** Read-or-build: the committed data files for (`storeDir`, `fp`).
    * `build(dataDir)` writes the derived parquet when no committed
    * version carries `fp` with all its files present; the commit is
    * CAS-guarded, and a lost race re-reads the winner's version (same
    * fingerprint = same content — the derivation is deterministic by
    * contract). */
  def filesFor(spark: SparkSession, storeDir: String, fp: String)
              (build: String => Unit): Seq[String] =
    committedFiles.once(s"$storeDir|$fp") {
      def committed(): Option[Seq[String]] =
        TableStore.currentVersion(storeDir)
          .map(v => TableStore.Snapshot(storeDir, v))
          .filter(s => TableStore.meta(s).get("fingerprint").contains(fp))
          .map(s => TableStore.filePaths(spark, s))
          .filter(present)
      var result: Seq[String] = null
      while (result == null) {
        committed() match {
          case Some(files) => result = files
          case None =>
            val parent = TableStore.currentVersion(storeDir)
            // Stage each ATTEMPT into its own directory. Two sessions
            // racing the same rebuild both read the same parent and
            // would otherwise build into the same files/v{N} path —
            // and `build` writes mode("overwrite"), so the CAS LOSER's
            // in-flight write would first DELETE the winner's
            // already-committed part files and then re-create them
            // under different names (parquet part names carry a
            // per-write UUID), leaving the winner's manifest pointing
            // at paths that no longer exist. Data files must be
            // immutable once a manifest names them; uniqueness per
            // attempt is what makes that hold under racing writers.
            val dataDir = s"$storeDir/files/v${parent.fold(0L)(_ + 1)}_" +
              java.util.UUID.randomUUID().toString.take(8)
            build(dataDir)
            val files = Option(new java.io.File(dataDir).listFiles())
              .getOrElse(Array.empty)
              .filter(f => f.isFile && f.getName.endsWith(".parquet"))
              .map(_.getAbsolutePath).toSeq.sorted
            import spark.implicits._
            try {
              TableStore.commitIfParent(spark, storeDir, files.toDF("path"),
                Map("fingerprint" -> fp), parent)
              result = files
              // Opportunistic crash-orphan reclamation, piggybacked on
              // the successful commit: a long-running pipeline then
              // reclaims aged orphans without an operator remembering a
              // vacuum cadence — commits are exactly as frequent as new
              // source versions, so the sweep amortizes to zero on the
              // read-back path. Best-effort by design: a vacuum hiccup
              // (concurrent sweep, permission) must never fail a build
              // that already committed.
              try { vacuum(spark, storeDir, CommitVacuumHorizonMs); () }
              catch { case _: Throwable => () }
            } catch {
              case _: TableStore.CommitConflictException =>
                // a concurrent session committed first: loop — if it
                // built the same fingerprint its version serves (same
                // fp = same content, the derivation is deterministic),
                // else rebuild against the new current. Reclaim THIS
                // attempt's staging dir before looping: it is ours
                // alone (unique per attempt) and no manifest ever
                // named it — without this, every lost race leaks a
                // full-size parquet tree under files/ that nothing
                // else reclaims until an aged sweep. A crash mid-build
                // can still orphan one staging dir; that one is
                // [[DerivedStore.vacuum]]'s job, run with an age
                // horizon longer than any build.
                TempDirs.deleteRecursively(Paths.get(dataDir))
            }
        }
      }
      result
    }

  /** Age horizon for the commit-time opportunistic [[vacuum]]:
    * deliberately conservative — 24 h is far longer than any single
    * derivation build (the retention contract: an attempt dir is only
    * an orphan once no build could still be writing it), so the
    * automatic sweep can never race an in-flight builder. An operator
    * wanting faster reclamation calls [[vacuum]] directly with a
    * horizon sized to their longest build (DEPLOY.md, derived-store
    * row). */
  val CommitVacuumHorizonMs: Long = 24L * 3600 * 1000

  /** Reclaim crash-orphaned ATTEMPT directories: a build that CRASHES
    * between staging and commit leaves its full-size `files/v{N}_<id>`
    * parquet tree with no manifest referencing it, and nothing else
    * reclaims it — [[TableStore.vacuum]]'s retention logic drops old
    * MANIFESTS and the files they referenced; it cannot tell a crashed
    * attempt from one still building, because both are simply
    * unreferenced. The age horizon is what makes that call: an attempt
    * dir is deleted only when (a) NO retained manifest references any
    * file inside it — same manifests-first safety argument as
    * TableStore.vacuum: committed versions stay fully readable because
    * their files are referenced and therefore untouched — and (b) its
    * newest mtime (the dir and every file under it — parquet writers
    * create the dir long before the last part lands) is older than
    * `olderThanMs`, so an in-flight build is never swept as long as the
    * horizon exceeds the longest build, the exact retention contract
    * TableStore.vacuum documents for readers. On a 100 TB pipeline each
    * orphan is a corpus-sized parquet tree; every successful
    * [[filesFor]] commit runs this automatically at
    * [[CommitVacuumHorizonMs]], and an operator may additionally run it
    * on the retention-vacuum cadence with a tighter horizon. Returns
    * the reclaimed dirs. */
  def vacuum(spark: SparkSession, storeDir: String,
             olderThanMs: Long): Seq[String] = {
    val filesRoot = new java.io.File(storeDir, "files")
    if (!filesRoot.isDirectory) return Seq.empty
    // referenced = every path named by ANY existing manifest (a
    // derived store never drops manifests itself; if TableStore.vacuum
    // ran, the dropped manifests' attempt dirs became orphans — aged
    // out here like any other)
    def norm(s: String): String =
      if (s.startsWith("file:")) new java.net.URI(s).getPath else s
    val manifestsDir = new java.io.File(storeDir, "manifests")
    val versions = Option(manifestsDir.list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith("m") && !n.contains(".") &&
        n.drop(1).nonEmpty && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong)
    val referenced = versions.flatMap(v =>
      TableStore.filePaths(spark, TableStore.Snapshot(storeDir, v)))
      .map(norm).toSet
    def newestMtime(f: java.io.File): Long = {
      val own = f.lastModified()
      if (!f.isDirectory) own
      else Option(f.listFiles()).getOrElse(Array.empty)
        .foldLeft(own)((m, c) => math.max(m, newestMtime(c)))
    }
    val cutoff = System.currentTimeMillis() - olderThanMs
    def referencesAny(f: java.io.File): Boolean =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).exists(referencesAny)
      else referenced.contains(f.getAbsolutePath)
    Option(filesRoot.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .filter(d => !referencesAny(d))
      .filter(d => newestMtime(d) < cutoff)
      .map { d => TempDirs.deleteRecursively(d.toPath); d.getAbsolutePath }
  }
}
