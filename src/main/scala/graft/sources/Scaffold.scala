package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

/** The one per-JVM memo for input SCAFFOLDING: a deterministic input
  * a query reads but does not test (a staged stream backlog, a bucketed
  * or partitioned layout, a bloom index, a signature store, the schema
  * [[Tables.raw]] infers for a fixture table), built on
  * the first call and read back by every later call in the JVM, so the
  * timed window measures the query, not the rebuild of its input. At
  * 100 TB that input already exists on the source bucket; here the
  * first call pays for it once.
  *
  * Each site owns one instance, so keys of two sites never collide.
  * The contract:
  *  - a hit is served only while `isValid` accepts it (for directory
  *    values, [[Scaffold.dirs]]: the directory still exists), plus any
  *    check the call site adds; an invalid hit is rebuilt, never served;
  *  - a miss or an invalid hit builds under a lock held for that key
  *    only, so concurrent first calls build once and the others wait
  *    for the value; the hit path takes no lock. `serialBuilds = false`
  *    drops that lock for [[DerivedStore]]'s file lists, whose
  *    concurrent builders, in one JVM or several, converge through the
  *    store's conditional commit, and a builder may not wait on another
  *    caller of the same key (AdjacencyStoreSpec's CAS race); and for
  *    [[SessionFrames]], whose per-session memo the JVM-wide locks
  *    would otherwise hold past its session;
  *  - a build that throws is not memoized, and a directory allocated
  *    for it by [[inDir]] is deleted. A scaffold deletes nothing it did
  *    not allocate.
  *
  * A build may call another scaffold (q151 -> q143 -> q98): the locks
  * are per (scaffold, key) and always taken outer to inner.
  *
  * The durable [[TableStore]] / [[DerivedStore]] stores are a different
  * thing: a committed, fingerprint-checked version that outlives the
  * JVM. This memo only spares the in-JVM re-read.
  */
final class Scaffold[K, V](isValid: V => Boolean, serialBuilds: Boolean = true) {

  private val memo = new ConcurrentHashMap[K, V]()

  /** The valid memoized value for `key`, else `build`'s. `alsoValid`
    * adds a check that needs the caller's session or key. */
  def once(key: K, alsoValid: V => Boolean = _ => true)(build: => V): V = {
    def hit(): Option[V] =
      Option(memo.get(key)).filter(v => isValid(v) && alsoValid(v))
    def hitOrBuild(): V = hit().getOrElse {
      val v = build
      memo.put(key, v)
      v
    }
    if (!serialBuilds) hitOrBuild()
    else hit().getOrElse(Scaffold.withKeyLock((this, key))(hitOrBuild()))
  }

  /** [[once]] for a value built into a fresh `TempDirs.create(prefix)`
    * directory, which is deleted if the build throws. */
  def inDir(key: K, prefix: String, alsoValid: V => Boolean = _ => true)
           (build: Path => V): V =
    once(key, alsoValid) {
      val dir = TempDirs.create(prefix)
      try build(dir)
      catch { case t: Throwable => TempDirs.deleteRecursively(dir); throw t }
    }

  /** Forget every value, as a fresh JVM would (specs). */
  def clear(): Unit = memo.clear()

  /** Number of memoized values (specs). */
  def size: Int = memo.size
}

object Scaffold {

  def apply[K, V](isValid: V => Boolean): Scaffold[K, V] = new Scaffold(isValid)

  /** A directory-valued scaffold: a hit is served while it exists. */
  def dirs[K]: Scaffold[K, String] = new Scaffold(exists)

  /** A scaffold of plain values: only the call site's own check. */
  def values[K, V]: Scaffold[K, V] = new Scaffold(_ => true)

  def exists(dir: String): Boolean = Files.isDirectory(Paths.get(dir))

  // one monitor per key, never removed: keys are bounded by the
  // fixtures and stores one JVM touches
  private val keyLocks = new ConcurrentHashMap[Any, Object]()

  /** Run `f` holding the JVM-wide monitor for `key` — a scaffold's
    * build, or a [[TableStore]] commit. */
  private[sources] def withKeyLock[T](key: Any)(f: => T): T =
    keyLocks.computeIfAbsent(key, _ => new Object).synchronized(f)
}
