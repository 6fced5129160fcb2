package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one session builder and the one scaffolding
  * memo. `Sessions.graft` is the only code that creates an engine
  * session, so every session gets `GraftExtensions` and the canonical
  * conf. A main or spec that builds its own session would silently lose
  * both (the native as-of join would then fail to plan), and a run-time
  * registration through `spark.experimental` would make plans depend on
  * call order. `sources.Scaffold` is the only per-JVM memo, so every
  * memoized input has its hit checked and is built once. Fails on any
  * of these patterns outside the allowed sites:
  *
  *  - the builder call: `Sessions.scala` in `src/main`; in `src/test`
  *    only `SessionsSpec`'s pure `applyMaster` cases, which build no
  *    session;
  *  - `spark.experimental` in `src/main`: nowhere but `Sessions.scala`;
  *  - a memo map (`TrieMap`, `getOrElseUpdate`, `ConcurrentHashMap`) in
  *    `src/main`: `Scaffold.scala`, plus the two maps that are not
  *    scaffolding, listed in the test;
  *  - a parquet read of a path built from `sfDir` in `src/main`: nowhere
  *    but `Tables.scala`, so every fixture read takes `Tables.raw` and
  *    its schema memo.
  */
class SessionGuardSpec extends AnyFunSuite {

  // split so this file does not match its own patterns
  private val builderCall = "SparkSession" + ".builder("
  private val experimental = "spark" + ".experimental"
  private val memoMaps =
    Seq("Trie" + "Map", "getOrElse" + "Update", "ConcurrentHash" + "Map")
  private val fixtureRead = ".parquet(s\"" + "$sfDir"

  private val root = Paths.get(sys.props("user.dir"))
  private val sessionsFile = "src/main/scala/graft/Sessions.scala"
  private val scaffoldFile = "src/main/scala/graft/sources/Scaffold.scala"
  private val tablesFile = "src/main/scala/graft/sources/Tables.scala"

  /** (repo-relative path, 1-based line number, line) of every line under
    * `dir` that contains `pattern`. */
  private def hits(dir: String, pattern: String): Seq[(String, Int, String)] =
    Using.resource(Files.walk(root.resolve(dir))) { paths =>
      paths.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    }.sorted.flatMap { p: Path =>
      val rel = root.relativize(p).toString
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(pattern) => (rel, i + 1, line.trim)
      }
    }

  private def show(bad: Seq[(String, Int, String)]): String =
    bad.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n")

  test("only Sessions.scala creates a session in src/main") {
    val (allowed, bad) = hits("src/main", builderCall).partition(_._1 == sessionsFile)
    // the allowed site must stay real, or the scan looked in the wrong place
    assert(allowed.nonEmpty, s"no $builderCall found in $sessionsFile under $root")
    assert(bad.isEmpty, s"build sessions through Sessions.graft:\n${show(bad)}")
  }

  test("specs get their session from Sessions.graft") {
    val bad = hits("src/test", builderCall).filterNot { case (f, _, line) =>
      f.endsWith("/SessionsSpec.scala") && line.contains("Sessions.applyMaster(")
    }
    assert(bad.isEmpty, s"build test sessions through SparkSpec:\n${show(bad)}")
  }

  test("nothing in src/main registers rules through spark.experimental") {
    val bad = hits("src/main", experimental).filterNot(_._1 == sessionsFile)
    assert(bad.isEmpty,
      s"install strategies and rules in GraftExtensions instead:\n${show(bad)}")
  }

  test("per-JVM memos in src/main go through sources.Scaffold") {
    // (file, line fragment) of the maps that are not input scaffolding:
    // Dedup's guard memo is a bounded verdict cache with its own
    // eviction spec; Bench's failure causes are one run's results
    val notScaffolding = Seq(
      "src/main/scala/graft/operators/Dedup.scala" ->
        "[(String, Double, Long), Option[String]]",
      "src/main/scala/graft/Bench.scala" -> "failureCauses.getOrElse")
    val found = memoMaps.flatMap(hits("src/main", _)).distinct
    val (inScaffold, rest) = found.partition(_._1 == scaffoldFile)
    val (allowed, bad) = rest.partition { case (f, _, line) =>
      notScaffolding.exists { case (af, frag) => f == af && line.contains(frag) }
    }
    assert(bad.isEmpty, s"memoize through sources.Scaffold:\n${show(bad)}")
    // every allowed site must stay real, or the scan looked in the wrong place
    assert(inScaffold.nonEmpty, s"no memo map found in $scaffoldFile under $root")
    notScaffolding.foreach { case (af, frag) =>
      assert(allowed.exists { case (f, _, l) => f == af && l.contains(frag) },
        s"allow-list entry $af / $frag matches nothing")
    }
  }

  test("fixture tables in src/main are read only through Tables") {
    val bad = hits("src/main", fixtureRead).filterNot(_._1 == tablesFile)
    assert(bad.isEmpty, s"read fixture tables through sources.Tables.raw:\n${show(bad)}")
  }
}
