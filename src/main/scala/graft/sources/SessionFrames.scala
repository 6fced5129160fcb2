package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The frames [[Tables]] resolved in one session, one per table and kind
  * (raw or normalized events): a request that reads a table several times
  * resolves and analyzes it once.
  *
  * A resolved frame holds its session (through its relation), so a
  * JVM-wide memo keyed on the session would keep every session it ever
  * saw alive, weak keys included. This memo is instead owned by the
  * session: `GraftExtensions` installs one per session state as a
  * no-op analyzer check rule, which is the extension point Spark builds
  * once for each session, and the memo is collected with its session.
  * A frame is served while its key (the table's schema key plus the
  * confs that analysis bakes into it) is the current one; a new key
  * replaces the table's entry, so the memo never outgrows the tables the
  * session reads.
  */
final class SessionFrames extends (LogicalPlan => Unit) {

  // no build lock: Scaffold's key locks are JVM-wide and would hold this
  // memo past its session; concurrent first callers may each build, and
  // any of their frames is right
  private val frames = new Scaffold[String, (Any, DataFrame)](_ => true, serialBuilds = false)

  override def apply(plan: LogicalPlan): Unit = ()

  /** The frame memoized as `name` under `key`, else `build`'s, which
    * replaces it. */
  def once(name: String, key: Any)(build: => DataFrame): DataFrame =
    frames.once(name, alsoValid = _._1 == key)(key -> build)._2

  /** Number of memoized frames (specs). */
  def size: Int = frames.size
}

object SessionFrames {

  /** The session's memo; None for a session built without
    * `GraftExtensions`, which then resolves every read afresh. */
  def of(spark: SparkSession): Option[SessionFrames] =
    spark.sessionState.analyzer.extendedCheckRules.collectFirst { case f: SessionFrames => f }
}
