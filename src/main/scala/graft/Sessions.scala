package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{NoForkLocalFileSystem, NoForkLocalFs}

/** The one session builder: every main, tool and spec gets its session
  * from [[Sessions.graft]], which installs `GraftExtensions` and the
  * canonical conf. Call sites add only the confs that really differ.
  *
  * `SPARK_GRAFT_MASTER` overrides the default `local[$cpus]` so the
  * SAME correctness sweep the driver runs single-JVM can be replayed
  * under `local-cluster[n,cores,mem]` — separate executor JVMs, real
  * driver↔executor serialization boundaries, the closest local proxy
  * for a multi-node cluster. A local-cluster master spawns executors
  * as fresh processes, so this build's classes and the Java 17 module
  * opens Spark needs must ride along in executor conf; the caller
  * must export
  * `SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13` so the worker can
  * assemble the executor command line.
  */
object Sessions {
  /** Java 17 module opens Spark's executor JVMs require (mirrors the
    * sbt fork options; kept in one place for every local-cluster user). */
  val addOpens: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** Executor memory implied by a local-cluster master bracket.
    * Spark's own master regex tolerates whitespace
    * ("local-cluster[4, 8, 6144]"), so this one must too — a
    * non-matching bracket would silently re-introduce the 1 GiB-default
    * under-sizing the bracket parse exists to fix (SCALING.md r13). */
  private[graft] def executorMemFromMaster(master: String): Option[String] =
    "local-cluster\\[\\s*\\d+\\s*,\\s*\\d+\\s*,\\s*(\\d+)\\s*\\]".r
      .findFirstMatchIn(master).map(_.group(1) + "m")

  /** Cores a session is sized to: `SPARK_GRAFT_CPUS`, else the host's. */
  def hostCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** A builder with the master, `GraftExtensions` and the canonical conf:
    * UTC session time, nanos-as-long parquet timestamps, AQE on, no UI,
    * and one shuffle partition per core. */
  def graft(cpus: String = hostCpus): SparkSession.Builder =
    withMaster(SparkSession.builder(), cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")

  /** Entries of Spark's generated-class cache (`CodeGenerator.cache`,
    * an LRU keyed on the thread's context class loader and the code
    * body; Spark's default is 100). A working set larger than the cache
    * misses on almost every lookup when it is visited in a cycle, and
    * Janino compiles the same classes again and again: the benchmark's
    * dashboard cycles through about 470 keys per round. One
    * `graft.Verify` pass over every registered query compiles 2,507
    * distinct keys when nothing is evicted (1,597 bodies, 910 of them
    * once on a driver thread and once in the executor's class loader),
    * so this size holds the whole registry with room to grow. Entries
    * cost metaspace only when a workload compiles that many classes. */
  val codegenCacheEntries: Int = 4000

  /** Apply the session master, install `GraftExtensions` (its SQL
    * functions, the native as-of strategy and its optimizer rules), the
    * no-fork `file://` filesystem (`graft.sources.LocalFs`: no process
    * per chmod or readlink), and compile-once code generation:
    *  - `spark.sql.codegen.cache.maxEntries` is [[codegenCacheEntries]]
    *    (a static conf: the first session of a JVM fixes it);
    *  - `spark.sql.artifact.isolation.enabled` is false. With isolation
    *    on, every job carries its session's UUID and the executor
    *    builds one class loader per UUID; `writeStream.start()` clones
    *    the session under a new UUID, so every stream would compile
    *    its task-side classes again in a fresh loader. The engine adds
    *    no session artifacts (jars, classes, files), so there is
    *    nothing to isolate; a deployment that does (Spark Connect) must
    *    turn isolation back on (DEPLOY.md).
    *
    * The master is `SPARK_GRAFT_MASTER` if set (with the executor
    * classpath/opens conf a local-cluster needs), else the default
    * `local[$cpus]`. A local-cluster master that does not parse (and no
    * SPARK_GRAFT_EXECUTOR_MEM) fails LOUDLY rather than letting
    * executors launch at the 1 GiB default. */
  def withMaster(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    applyMaster(b.withExtensions(new GraftExtensions)
        .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)
        .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toLong)
        .config("spark.sql.artifact.isolation.enabled", "false"),
      sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"),
      sys.env.get("SPARK_GRAFT_EXECUTOR_MEM"))

  /** The env-free core of [[withMaster]], separated so the sizing
    * contract is directly testable (SessionsSpec). */
  private[graft] def applyMaster(b: SparkSession.Builder, master: String,
                                 memOverride: Option[String]): SparkSession.Builder = {
    val withM = b.master(master)
    if (master.startsWith("local-cluster")) {
      val base = withM
        .config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.extraJavaOptions", addOpens)
      // local-cluster[n,cores,memMB]'s third field is only the WORKER's
      // advertised capacity — executor JVMs still launch with the
      // default spark.executor.memory=1g. Every probe that wrote
      // "local-cluster[4,8,6144]" therefore ran 1 GiB executor heaps
      // (discovered when q115's sf10 adjacency OOM'd identically at
      // "6/12/24 GiB"). Size the executor to the bracket so the master
      // string means what it says; SPARK_GRAFT_EXECUTOR_MEM overrides.
      val m = memOverride
        .orElse(executorMemFromMaster(master))
        .getOrElse(throw new IllegalArgumentException(
          s"Sessions.withMaster: cannot size executors — master '$master' " +
            "does not parse as local-cluster[n,cores,memMB] and " +
            "SPARK_GRAFT_EXECUTOR_MEM is unset; executors would silently " +
            "launch at the 1 GiB default"))
      base.config("spark.executor.memory", m)
    } else withM
  }
}
