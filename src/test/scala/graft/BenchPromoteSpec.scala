package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench-record promotion rule (Bench.promoteRule): promotion
  * is keyed on the git SHA with keep-best-of within a SHA, so a slower
  * same-code sweep — host weather by definition — can never displace
  * the round-close record (round 14: a 214.3 s same-code run displaced
  * the 195.9 s record because the gate only looked at intra-run noise).
  */
class BenchPromoteSpec extends AnyFunSuite {
  private val shaA = "a" * 40
  private val shaB = "b" * 40

  test("a slower same-sha run never displaces the record") {
    // the round-14 incident, verbatim: same code, both quiet, slower
    val (promote, rule) = Bench.promoteRule(haveRecord = true, force = false,
      partial = false, noise = 0.18, noiseMax = 0.30,
      prevSha = Some(shaA), newSha = shaA,
      prevTotal = Some(195.88), newTotal = 214.33)
    assert(!promote, rule)
    assert(rule.contains("host weather"))
  }

  test("a faster same-sha run promotes (keep-best-of)") {
    val (promote, rule) = Bench.promoteRule(true, force = false, partial = false,
      noise = 0.18, noiseMax = 0.30, Some(shaA), shaA, Some(214.33), 195.88)
    assert(promote, rule)
    assert(rule.contains("keep-best-of"))
  }

  test("a different sha promotes even when slower — a regression must be visible") {
    val (promote, rule) = Bench.promoteRule(true, force = false, partial = false,
      noise = 0.18, noiseMax = 0.30, Some(shaA), shaB, Some(195.88), 250.0)
    assert(promote, rule)
    assert(rule.contains("code changed"))
  }

  test("a record predating the sha field is treated as code-changed") {
    val (promote, rule) = Bench.promoteRule(true, force = false, partial = false,
      noise = 0.18, noiseMax = 0.30, None, shaA, Some(195.88), 250.0)
    assert(promote, rule)
  }

  test("the noise gate still precedes the sha rule") {
    val (promote, rule) = Bench.promoteRule(true, force = false, partial = false,
      noise = 0.43, noiseMax = 0.30, Some(shaA), shaB, Some(195.88), 180.0)
    assert(!promote, rule)
    assert(rule.contains("loud-host"))
  }

  test("first record / partial probe / force behave as before") {
    assert(Bench.promoteRule(false, force = false, partial = false,
      0.18, 0.30, None, shaA, None, 200.0)._1)
    assert(!Bench.promoteRule(true, force = false, partial = true,
      0.05, 0.30, Some(shaA), shaB, Some(200.0), 5.0)._1)
    assert(Bench.promoteRule(true, force = true, partial = true,
      0.99, 0.30, Some(shaA), shaA, Some(100.0), 999.0)._1)
  }

  test("a different-SF sweep never displaces the record") {
    // caught live on this rule's first run: an sf0.001 smoke sweep
    // displaced the sf0.1 round-close record under "code changed"
    val (promote, rule) = Bench.promoteRule(true, force = false, partial = false,
      noise = 0.0, noiseMax = 0.30, Some(shaA), shaB, Some(195.88), 148.26,
      prevSf = Some("/root/testdata/sf0.1"), newSf = "/root/testdata/sf0.001")
    assert(!promote, rule)
    assert(rule.contains("scale factor differs"))
    // same SF passes through to the sha rules
    assert(Bench.promoteRule(true, force = false, partial = false,
      0.0, 0.30, Some(shaA), shaB, Some(195.88), 148.26,
      Some("/root/testdata/sf0.1"), "/root/testdata/sf0.1")._1)
  }

  test("a grading-SF sweep displaces an off-SF record (anti-wedge rule)") {
    // the round-15 ADVICE scenario: an sf0.001 smoke run became the
    // first record; the SF-differs rule then blocked every legitimate
    // grading-SF sweep forever. The grading SF must win the record back.
    val (promote, rule) = Bench.promoteRule(true, force = false, partial = false,
      noise = 0.1, noiseMax = 0.30, Some(shaA), shaB, Some(148.26), 205.0,
      prevSf = Some("/root/testdata/sf0.001"), newSf = "/root/testdata/sf0.1")
    assert(promote, rule)
    assert(rule.contains("grading-SF"))
    // but an off-SF run still never displaces an off-SF record
    assert(!Bench.promoteRule(true, force = false, partial = false,
      0.1, 0.30, Some(shaA), shaB, Some(148.26), 205.0,
      Some("/root/testdata/sf0.001"), "/root/testdata/sf1")._1)
  }

  test("a GRAFT_BENCH_CONF-injected run is a probe: stamped only, never the record") {
    val (promote, rule) = Bench.promoteRule(true, force = false, partial = false,
      noise = 0.1, noiseMax = 0.30, Some(shaA), shaA, Some(214.0), 195.0,
      prevSf = Some("/root/testdata/sf0.1"), newSf = "/root/testdata/sf0.1",
      confInjected = true)
    assert(!promote, rule)
    assert(rule.contains("GRAFT_BENCH_CONF"))
    // force still overrides, exactly like GRAFT_ONLY probes
    assert(Bench.promoteRule(true, force = true, partial = false,
      0.1, 0.30, Some(shaA), shaA, Some(214.0), 195.0,
      Some("/root/testdata/sf0.1"), "/root/testdata/sf0.1",
      confInjected = true)._1)
  }

  test("a doc-only commit (new sha, same src digest) keeps the record") {
    // the round-16 ambiguity: 181.65 s at ca7 reset to 195.75 s at 08d
    // because two artifact/doc commits changed the sha without touching
    // src/main. With both sides carrying a source digest, identity keys
    // on the ENGINE content: same digest + slower total = host weather.
    val dig = "d" * 32
    val (promote, rule) = Bench.promoteRule(true, force = false, partial = false,
      noise = 0.18, noiseMax = 0.30, Some(shaA), shaB, Some(181.65), 195.75,
      prevSf = Some("/root/testdata/sf0.1"), newSf = "/root/testdata/sf0.1",
      prevSrc = Some(dig), newSrc = dig)
    assert(!promote, rule)
    assert(rule.contains("host weather"))
    // ...and a FASTER same-digest doc-only run still keeps-best-of
    assert(Bench.promoteRule(true, force = false, partial = false,
      0.18, 0.30, Some(shaA), shaB, Some(195.75), 181.65,
      Some("/root/testdata/sf0.1"), "/root/testdata/sf0.1",
      prevSrc = Some(dig), newSrc = dig)._1)
  }

  test("a source edit (different src digest) resets the record even when slower") {
    val (promote, rule) = Bench.promoteRule(true, force = false, partial = false,
      noise = 0.18, noiseMax = 0.30, Some(shaA), shaB, Some(181.65), 210.0,
      prevSf = Some("/root/testdata/sf0.1"), newSf = "/root/testdata/sf0.1",
      prevSrc = Some("d" * 32), newSrc = "e" * 32)
    assert(promote, rule)
    assert(rule.contains("code changed") && rule.contains("src digest"))
  }

  test("a pre-src record or unreadable tree falls back to the sha rule") {
    // record has no src field: sha decides (same sha, slower → kept)
    assert(!Bench.promoteRule(true, force = false, partial = false,
      0.18, 0.30, Some(shaA), shaA, Some(195.0), 214.0,
      Some("/root/testdata/sf0.1"), "/root/testdata/sf0.1",
      prevSrc = None, newSrc = "d" * 32)._1)
    // fresh run's digest unreadable: sha decides (different sha → promotes)
    assert(Bench.promoteRule(true, force = false, partial = false,
      0.18, 0.30, Some(shaA), shaB, Some(195.0), 214.0,
      Some("/root/testdata/sf0.1"), "/root/testdata/sf0.1",
      prevSrc = Some("d" * 32), newSrc = "unknown")._1)
  }

  test("srcDigest is stable within a tree and recordSrc parses it back") {
    val d1 = Bench.srcDigest()
    assert(d1.matches("[0-9a-f]{32}"), s"digest should be md5-hex: $d1")
    assert(Bench.srcDigest() == d1, "same tree, same digest")
    val line = s"""{"queries":{"q01":0.5},"src":"$d1","sha":"$shaA","value":195.88}"""
    assert(Bench.recordSrc(line).contains(d1))
    assert(Bench.recordSrc("""{"value":1.0}""").isEmpty)
  }

  test("recordSha/recordValue parse the artifact line") {
    val line = s"""{"queries":{"q01":0.5},"noise":0.18,"sha":"$shaA","metric":"total","value":195.88,"unit":"sec"}"""
    assert(Bench.recordSha(line).contains(shaA))
    assert(Bench.recordValue(line).contains(195.88))
    assert(Bench.recordSha("""{"value":1.0}""").isEmpty)
  }

  test("a failed query's cause names class, message and first frame, and survives JSON") {
    val t = new IllegalStateException("state store \"q52\" lost\n== detail ==\t\\tail")
    val cause = Bench.failureCause(t)
    assert(cause.startsWith("java.lang.IllegalStateException: state store \"q52\" lost at "),
      cause)
    assert(cause.endsWith(t.getStackTrace.head.toString))
    assert(!cause.contains("\n"), "one line per failure")
    assert(Bench.failureCause(new RuntimeException()).startsWith(
      "java.lang.RuntimeException:  at "))
    // the sidecar's escaping, read back by an independent JSON parser
    val raw = "q\"1\\ \u0001\n\t end"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Bench.jsonString(raw), classOf[String])
    assert(parsed == raw)
  }
}
