package graft

import java.nio.file.{Files, Path, Paths}

import scala.sys.process._

/** Spill-path proof (VERDICT r9 "next round" #1): every operator family
  * claims "shuffle-on-key, no driver state" — spilling is where that
  * claim meets physics, and local[32]/128 GiB at sf0.1 never pressures
  * memory, so before this spec the sort/hash-agg/join spill paths a
  * 100 TB run exercises constantly were unproven.
  *
  * The proof forks [[graft.tools.SpillProbe]] into a child JVM that runs
  * the heaviest batch queries twice — once under a deliberately small
  * unified pool (spark.testing.memory), once unconstrained with
  * identical parallelism/partitioning — and this spec asserts:
  *   (a) the constrained run SPILLED (non-zero task
  *       memoryBytesSpilled/diskBytesSpilled) on the queries whose big
  *       sorts/aggs are the pressure point, and
  *   (b) every query's constrained result is ROW-IDENTICAL to its
  *       unconstrained result (the spill path changed the physics, not
  *       the answer).
  *
  * Two pool tiers, found empirically (see SCALING.md "Spill proof"):
  *  - 96 MB for the shuffle-heavy eight — below ~1.5 MB/task the
  *    hash-agg's BytesToBytesMap cannot allocate its FIRST page (a
  *    consumer needs a page to spill from), which is a bootstrap wall,
  *    not a spill failure;
  *  - 96 MB for q115 PageRank too, since round 16: the tier was 384 MB
  *    while the query re-derived its adjacency in-pool (the self-join's
  *    fast-hash-map pages needed the bootstrap headroom); the shared
  *    pair store moved that build out of the query, the 384 m pool
  *    stopped biting (spill 0 — the refactor's signature), and at 96 MB
  *    the iteration state alone still spills ~590 MB (measured:
  *    mem 520 MB + disk 68 MB, baseline identical rows).
  */
class SpillSpec extends SparkSpec {

  private val heavyEight =
    "q21,q22,q48,q51,q116,q139,q149,q162"
  // queries observed to spill with a WIDE margin at their tier's pool
  // (260–740 MB). The marginal ones (q21/q22/q48/q51/q162) hover near
  // zero once the JVM is JIT-warm — they degrade via storage eviction +
  // recompute instead, which is correct-but-slower — so they are
  // equality-only, and an aggregate floor below catches a pool-wide
  // pressure loss. q21 moved from mustSpill to marginal in round 12:
  // hashing shingles to longs (Dedup.jaccardPairsFromShingles) cut its
  // per-task verify-join footprint ~3x, below the 96 MB pressure point
  // (retuned from the failure log's spill table, per its design).
  private val mustSpill = Set("q115", "q116", "q139", "q149")

  private def forkProbe(out: Path, poolMb: Int, queries: String): Unit = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    val cmd = Seq(java) ++ Sessions.addOpens.split(" ") ++ Seq(
      "-Xmx3g", "-cp", cp, "graft.tools.SpillProbe",
      sf("sf0.1"), out.toString, poolMb.toString, queries)
    val log = new StringBuilder
    val exit = Process(cmd, None, "SPARK_GRAFT_CPUS" -> "8")
      .!(ProcessLogger(l => log.append(l).append('\n'), l => log.append(l).append('\n')))
    assert(exit == 0,
      s"SpillProbe(pool=${poolMb}m) failed rc=$exit; log tail:\n" +
        log.toString.linesIterator.toSeq.takeRight(40).mkString("\n"))
  }

  private val spillRe =
    """"(q\d+[^"]*)":\{"mem":(\d+),"disk":(\d+)""".r

  /** (constrainedSpill, section) parsed from the probe's spills.json. */
  private def parseSpills(out: Path): Map[String, Long] = {
    val text = new String(Files.readAllBytes(out.resolve("spills.json")), "UTF-8")
    val conIdx = text.indexOf("\"constrained\"")
    val baseIdx = text.indexOf("\"baseline\"")
    assert(conIdx >= 0 && baseIdx > conIdx,
      s"spills.json missing/reordered constrained+baseline sections: $text")
    val constrained = text.substring(conIdx, baseIdx)
    spillRe.findAllMatchIn(constrained).map { m =>
      m.group(1) -> (m.group(2).toLong + m.group(3).toLong)
    }.toMap
  }

  private def assertTier(out: Path, poolMb: Int, queries: String): Unit = {
    forkProbe(out, poolMb, queries)
    val spills = parseSpills(out)
    val names = spills.keySet
    assert(names.map(_.takeWhile(_ != '_')) == queries.split(",").toSet,
      s"probe ran ${names.mkString(",")}, expected $queries")
    for (name <- names.toSeq.sorted) {
      val con = spark.read.parquet(out.resolve("constrained").resolve(name).toString)
      val base = spark.read.parquet(out.resolve("baseline").resolve(name).toString)
      val (nCon, nBase) = (con.count(), base.count())
      assert(nCon == nBase, s"$name: constrained $nCon rows vs baseline $nBase")
      assert(nCon > 0, s"$name: empty result")
      assert(con.exceptAll(base).isEmpty && base.exceptAll(con).isEmpty,
        s"$name: constrained result differs from unconstrained baseline")
      if (mustSpill(name.takeWhile(_ != '_'))) {
        assert(spills(name) > 0L,
          s"$name: expected non-zero spill under the ${poolMb}m pool " +
            "(pressure point moved — retune the tier or drop the query " +
            "from mustSpill with a note); per-query spill bytes: " +
            spills.toSeq.sorted.map { case (q, b) => s"$q=$b" }.mkString(", "))
      }
    }
    // pool-wide floor: the tier as a whole must have seen real pressure
    // (observed ≥ 400 MB for tier 96, ≥ 350 MB for q115's tier; 64 MB
    // leaves ~10× headroom below either while still failing loudly if
    // spark.testing.memory stops biting)
    val total = spills.values.sum
    assert(total > (64L << 20),
      s"tier pool=${poolMb}m spilled only $total bytes total — the " +
        "constrained pool no longer creates memory pressure; per-query " +
        "spill bytes: " +
        spills.toSeq.sorted.map { case (q, b) => s"$q=$b" }.mkString(", "))
  }

  test("heavy batch queries spill under a constrained pool and stay row-identical") {
    val out = graft.sources.TempDirs.create("graft_spill_96_")
    assertTier(out, 96, heavyEight)
  }

  test("q115 pagerank spills across iterations and stays row-identical") {
    val out = graft.sources.TempDirs.create("graft_spill_96_pr_")
    assertTier(out, 96, "q115")
  }
}
