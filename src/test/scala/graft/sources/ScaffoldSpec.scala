package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.queries.{AnalyticsQueries, SourceQueries}

/** Pins the one scaffolding memo's contract: keys are per instance, an
  * invalid hit is rebuilt, concurrent first calls build once, a failed
  * build is not memoized and leaves no directory behind, and nested
  * scaffolds (q151 -> q143 -> q98) cannot deadlock. The last three
  * tests run it under real queries: a reaped input directory is rebuilt
  * with the same answer, and concurrent cold q44 calls share one build.
  */
class ScaffoldSpec extends SparkSpec {

  /** A directory scaffold whose builds are counted; each build takes
    * `buildMs` and first runs `inside` (a nested scaffold call). */
  private final class Counted(buildMs: Long = 0, inside: () => Any = () => ()) {
    val scaffold = Scaffold.dirs[String]
    val builds = new AtomicInteger()
    def apply(key: String): String =
      scaffold.inDir(key, "graft_spec_scaffold") { d =>
        builds.incrementAndGet()
        inside()
        Thread.sleep(buildMs)
        d.toString
      }
  }

  /** Run `f(i)` on `n` threads released together; every result. */
  private def together[T](n: Int)(f: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new CountDownLatch(1)
    try {
      val futs = (0 until n).map(i => Future { gate.await(); f(i) })
      gate.countDown()
      Await.result(Future.sequence(futs), 5.minutes)
    } finally pool.shutdownNow()
  }

  test("the same key on two scaffolds builds twice and serves two values") {
    val (a, b) = (new Counted, new Counted)
    val (va, vb) = (a("sf"), b("sf"))
    assert(va != vb)
    assert(a("sf") == va && b("sf") == vb)
    assert(a.builds.get == 1 && b.builds.get == 1)
  }

  test("an invalid hit is rebuilt into a fresh directory") {
    val s = new Counted
    val first = s("sf")
    TempDirs.deleteRecursively(Paths.get(first))
    val second = s("sf")
    assert(second != first && Scaffold.exists(second))
    assert(s("sf") == second, "the rebuilt value must be served again")
    assert(s.builds.get == 2)
  }

  test("8 concurrent first calls on a cold key build once and share the value") {
    val s = new Counted(buildMs = 200) // a wide race window
    val got = together(8)(_ => s("cold"))
    assert(s.builds.get == 1)
    assert(got.distinct.size == 1 && Scaffold.exists(got.head))
  }

  test("a build that throws is not memoized and its directory is deleted") {
    val s = Scaffold.dirs[String]
    var allocated: Path = null
    val e = intercept[IllegalStateException] {
      s.inDir("sf", "graft_spec_scaffold") { d =>
        allocated = d
        Files.writeString(d.resolve("partial"), "half-built")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(allocated != null && !Files.exists(allocated))
    val next = s.inDir("sf", "graft_spec_scaffold")(_.toString)
    assert(next != allocated.toString && Scaffold.exists(next))
  }

  test("nested scaffolds under concurrent calls complete without deadlock") {
    // outer -> middle -> inner, as q151 -> q143 -> q98; callers enter
    // at every level at once
    val inner = new Counted(buildMs = 50)
    val middle = new Counted(inside = () => inner("sf"))
    val outer = new Counted(inside = () => middle("sf"))
    val levels = Seq(outer, middle, inner)
    val got = together(8)(i => (0 until 3).map(j => levels((i + j) % 3)("sf")).toSet)
    assert(levels.map(_.builds.get) == Seq(1, 1, 1))
    assert(got.forall(_ == levels.map(_("sf")).toSet))
  }

  /** The ancestor of `df`'s input files named `prefix*`: the directory
    * a scaffold allocated for the query's input. */
  private def scaffoldDirs(df: DataFrame, prefix: String): Set[Path] =
    df.inputFiles.toSet.map { (f: String) =>
      Iterator.iterate(Paths.get(new java.net.URI(f).getPath))(_.getParent)
        .takeWhile(_ != null)
        .find(_.getFileName.toString.startsWith(prefix))
        .getOrElse(fail(s"$f lies under no $prefix* directory"))
    }

  for ((name, prefix, run) <- Seq(
      ("q89", "graft_q89", (sf: String) => SourceQueries.q89DppJoin(spark, sf)),
      ("q147", "graft_q147",
        (sf: String) => AnalyticsQueries.q147SketchRollup(spark, sf)))) {
    test(s"$name rebuilds a reaped input directory and answers the same") {
      val first = run(sf())
      val rows = first.collect().toSeq
      val dirs = scaffoldDirs(first, prefix)
      assert(dirs.size == 1)
      TempDirs.deleteRecursively(dirs.head)
      val second = run(sf())
      assert(second.collect().toSeq == rows)
      assert(scaffoldDirs(second, prefix) != dirs,
        "the reaped directory must be rebuilt, not served")
    }
  }

  test("concurrent cold q44 calls build one bucketed pair and agree with serial") {
    val serial = SourceQueries.q44BucketedJoin(spark, sf()).collect().toSeq
    // a fresh alias of the fixture: a new memo key and a new table tag
    val parent = Files.createTempDirectory("graft_spec_alias")
    val alias = Files.createSymbolicLink(parent.resolve("sf"), Paths.get(sf()))
    try {
      val frames = together(4)(_ => SourceQueries.q44BucketedJoin(spark, alias.toString))
      frames.foreach(df => assert(df.collect().toSeq == serial))
      assert(frames.flatMap(scaffoldDirs(_, "graft_q44")).distinct.size == 1,
        "all callers must read the one layout built for the key")
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(alias.toString.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      val tables = spark.catalog.listTables().collect().map(_.name)
        .filter(n => n.startsWith("graft_q44_") && n.endsWith(s"_$tag"))
      assert(tables.sorted.toSeq ==
        Seq(s"graft_q44_lineitem_$tag", s"graft_q44_orders_$tag"))
    } finally {
      Files.delete(alias) // the link only, never the fixture
      Files.delete(parent)
    }
  }
}
