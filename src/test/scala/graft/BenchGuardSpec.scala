package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact guards are pure functions over the artifact JSON —
  * pinned here so the no-clobber rule (BASELINE.md refused-artifacts
  * ledger) stays mechanical: a future run must divert exactly when the
  * ledger says one historically should have been diverted. */
class BenchGuardSpec extends AnyFunSuite {

  private def p(json: String): BenchArtifact = BenchArtifact.parse(json).get

  test("the committed bench.json round-trips through the typed artifact") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench.json")), "UTF-8")
    val artifact = p(text)
    val json = BenchArtifact.json
    assert(json.readTree(json.writeValueAsString(artifact)) == json.readTree(text))
    val compact = Bench.compactLine(artifact, "bench.json")
    assert(compact.length <= 1700, s"compact line is ${compact.length} chars")
    val tree = json.readTree(compact)
    assert(tree.get("queries").size == 30 && tree.get("queries_n").asInt == artifact.queries.size)
  }

  test("breachedSmokePin: the round-14 committed artifact holds every pin") {
    val committed = """{"dedup_curve_sec":[18.4,32.5,62.3,128.5],""" +
      """"substring_smoke_sec":27.1,"graph_curve_sec":[43.5,62.1,103.0]}"""
    assert(Bench.breachedSmokePin(p(committed)).isEmpty)
  }

  test("breachedSmokePin names the first breached pin") {
    // substring wall past the BASELINE cap
    val sub = """{"substring_smoke_sec":311.0,"dedup_curve_sec":[20.0,30.0,60.0,120.0]}"""
    assert(Bench.breachedSmokePin(p(sub)).exists(_.startsWith("substring_smoke_sec")))
    // 8x curve ratio past the cap (20 -> 240 is 12x > 11)
    val curve = """{"substring_smoke_sec":30.0,"dedup_curve_sec":[20.0,30.0,60.0,240.0]}"""
    assert(Bench.breachedSmokePin(p(curve)).exists(_.startsWith("dedup_curve 8x")))
    // graph 4x ratio past the cap
    val graph = """{"substring_smoke_sec":30.0,"dedup_curve_sec":[20.0,30.0,60.0,120.0],""" +
      """"graph_curve_sec":[40.0,60.0,210.0]}"""
    assert(Bench.breachedSmokePin(p(graph)).exists(_.startsWith("graph_curve 4x")))
  }

  test("breachedSmokePin: crash / not-reached sentinels are not breaches") {
    // -1 (crash), -2 (wrong count), -3 (not reached) are loud via
    // smoke_errors/partial; the pin comparator must not read them as
    // ratios or caps
    val j = """{"substring_smoke_sec":-1.0,"dedup_curve_sec":[-3.0,-3.0,-3.0,-3.0],""" +
      """"graph_curve_sec":[-1.0,-2.0,-3.0]}"""
    assert(Bench.breachedSmokePin(p(j)).isEmpty)
  }

  test("smokesCrashed: errors map, negative sentinels, and the robokop exception") {
    // non-empty smoke_errors
    assert(Bench.smokesCrashed(p("""{"smoke_errors":{"merge":"boom"},"dedup_curve_sec":[1.0,2.0,3.0,4.0]}""")))
    // a -2.0 wrong-count sentinel leaves smoke_errors EMPTY — it must
    // still read as crashed (it breaches no pin and would otherwise
    // clobber a green artifact)
    assert(Bench.smokesCrashed(p("""{"smoke_errors":{},"dedup_curve_sec":[18.0,32.0,62.0,-2.0]}""")))
    assert(Bench.smokesCrashed(p("""{"smoke_errors":{},"dedup_curve_sec":[18.0,32.0,62.0,120.0],"substring_smoke_sec":-1.0}""")))
    // robokop_build_sec -1.0 is a legitimate fixtures-absent marker
    assert(!Bench.smokesCrashed(p("""{"smoke_errors":{},"robokop_build_sec":-1.0,"dedup_curve_sec":[18.0,32.0,62.0,120.0],"substring_smoke_sec":27.0,"winnow_smoke_sec":15.0,"merge_smoke_sec":32.0}""")))
  }

  test("crossCoreClobber: a different-core run never displaces a clean full artifact") {
    val disk32 = """{"value":150.0,"cpus":32,"bench_cpus":32,""" +
      """"contaminated":false,"partial":false}"""
    // the r15 failure mode: a clean 8-core driver run over a 32-core artifact
    assert(Bench.crossCoreClobber(p(disk32), 8))
    // same core count writes normally
    assert(!Bench.crossCoreClobber(p(disk32), 32))
    // a dirty or partial on-disk artifact never blocks (cleaner rules decide)
    val dirty = """{"value":150.0,"bench_cpus":32,"contaminated":true,"partial":false}"""
    assert(!Bench.crossCoreClobber(p(dirty), 8))
    // artifacts predating bench_cpus are indistinguishable — rule stays off
    val legacy = """{"value":150.0,"cpus":32,"contaminated":false,"partial":false}"""
    assert(!Bench.crossCoreClobber(p(legacy), 8))
  }

  test("decide: the four no-clobber rules, their precedence, and absent or unreadable artifacts") {
    val clean = p("""{"smoke_errors":{},"dedup_curve_sec":[18.4,32.5,62.3,128.5],""" +
      """"substring_smoke_sec":27.1,"winnow_smoke_sec":15.0,"merge_smoke_sec":32.0,""" +
      """"graph_curve_sec":[43.5,62.1,103.0],"bench_cpus":32,"code_fingerprint":"abc123",""" +
      """"contaminated":false,"partial":false}""")
    val crashed = clean.copy(smokeErrors = Map("merge" -> "boom"), mergeSmokeSec = -1.0)
    val breaching = clean.copy(substringSmokeSec = 311.0)
    val dir = java.nio.file.Files.createTempDirectory("bench-guard")
    val garbage = java.nio.file.Files.writeString(dir.resolve("garbage.json"), "{\"value\":")
    // (on disk, candidate, first word of the diversion reason or None to write)
    val cases = Seq[(String, Option[BenchArtifact], BenchArtifact, Option[String])](
      ("absent on disk", BenchArtifact.read(dir.resolve("missing.json")), breaching, None),
      ("unreadable on disk", BenchArtifact.read(garbage), crashed, None),
      ("dirty on disk", Some(clean.copy(contaminated = Some(true))), crashed, None),
      ("partial on disk", Some(clean.copy(partial = Some(true))), breaching, None),
      ("clean over clean", Some(clean), clean, None),
      ("rule 4", Some(clean), clean.copy(benchCpus = Some(8)), Some("cross-core-count")),
      ("rule 4 before rule 1", Some(clean),
        clean.copy(benchCpus = Some(8), contaminated = Some(true)), Some("cross-core-count")),
      ("rule 4 off for a legacy artifact", Some(clean.copy(benchCpus = None)),
        clean.copy(benchCpus = Some(8)), None),
      ("rule 1 contaminated", Some(clean), clean.copy(contaminated = Some(true)),
        Some("contaminated")),
      ("rule 1 partial", Some(clean), clean.copy(partial = Some(true)), Some("partial")),
      ("rule 3", Some(clean), crashed, Some("smoke-crashed")),
      ("rule 3 over a crashed artifact", Some(crashed), crashed, None),
      ("rule 2", Some(clean), breaching, Some("pin-breaching")),
      ("rule 2 other code", Some(clean.copy(codeFingerprint = Some("def456"))), breaching, None),
      ("rule 2 unknown code", Some(clean.copy(codeFingerprint = Some("unknown"))),
        breaching.copy(codeFingerprint = Some("unknown")), None),
      ("rule 2 over a breaching artifact", Some(breaching), breaching, None),
      ("rule 2 defers to a crashed artifact", Some(crashed), breaching, None))
    cases.foreach { case (name, disk, candidate, divert) =>
      val got = Bench.decide(disk, candidate) match {
        case Bench.Write => None
        case Bench.Divert(why) => Some(why.takeWhile(_ != ' '))
      }
      assert(got == divert, name)
    }
  }

  test("codeFingerprint is stable within a run and tracks the source tree") {
    val a = Bench.codeFingerprint()
    assert(a != "unknown") // tests run from the repo root
    assert(a.length == 12 && a.forall(c => c.isDigit || ('a' to 'f').contains(c)))
    assert(Bench.codeFingerprint() == a)
  }
}
