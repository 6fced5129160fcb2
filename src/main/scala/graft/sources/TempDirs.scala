package graft.sources

import java.nio.file.{Files, LinkOption, Path}
import scala.jdk.CollectionConverters._

/** Scratch-directory allocator for query-local stores (shard writes,
  * manifest/bloom indexes, streaming checkpoints). Every directory is
  * created under ONE per-JVM root that a shutdown hook deletes
  * recursively, so repeated Bench/Verify runs stop accreting orphan
  * `graft_q*` directories in the system temp dir (each run cleans up
  * after itself; within a run, allocation stays cheap and collision-free
  * via createTempDirectory's random suffix).
  */
object TempDirs {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_run_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  /** Drop-in for `Files.createTempDirectory(prefix)`, but rooted in the
    * run-scoped directory above. */
  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** NEVER follows symlinks. The earlier `File.isDirectory` form did —
    * and a staged streaming-source link pointing at a real
    * directory-layout table was recursed INTO, deleting the pointed-to
    * data files (the sf1 probe's events table) from inside the scratch
    * cleaner. A symlink is unlinked, whatever it points at; only real
    * directories are descended. TempDirsSpec pins this. */
  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val listing = Files.list(p)
      try listing.iterator().asScala.foreach(deleteRecursively)
      finally listing.close()
    }
    Files.deleteIfExists(p)
    ()
  }
}
