package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The forked two-JVM ScalingBench protocol: each level child prints one
  * JSON line, the parent parses it back. A drifted field name or a lost
  * digit here silently corrupts the round's scaling evidence, so the
  * encode/decode pair is pinned as an exact round-trip (no SparkSession
  * needed — this is pure string protocol).
  */
class ScalingBenchProtocolSpec extends AnyFunSuite with Matchers {

  private val sample = ScalingBench.Level(
    cpus = 8, edges = 40000000L,
    lpIters = 6, lpWall = 94.017, lpMedIter = 9.7712,
    prIters = 75, prWall = 421.552, prMedIter = 5.2401,
    lpFp = -8823911406800802816L, prFp = 7421900394817361920L)

  test("levelJson → parseLevel is the identity on every field") {
    val parsed = ScalingBench.parseLevel(ScalingBench.levelJson(sample))
    assert(parsed.cpus === sample.cpus)
    assert(parsed.edges === sample.edges)
    assert(parsed.lpIters === sample.lpIters)
    assert(parsed.prIters === sample.prIters)
    // wall/median seconds are serialized at 3/4 decimals — the estimator's
    // resolution; fingerprints must survive exactly (negative included)
    assert(math.abs(parsed.lpWall - sample.lpWall) < 1e-3)
    assert(math.abs(parsed.prWall - sample.prWall) < 1e-3)
    assert(math.abs(parsed.lpMedIter - sample.lpMedIter) < 1e-4)
    assert(math.abs(parsed.prMedIter - sample.prMedIter) < 1e-4)
    assert(parsed.lpFp === sample.lpFp)
    assert(parsed.prFp === sample.prFp)
  }

  test("levelJson emits dot decimals under a comma-decimal default locale") {
    // r4 advisor finding: the f"%.3f" interpolator is locale-sensitive —
    // under de_DE it emitted "lp_wall":94,017, which the [0-9.]+ parser
    // silently truncated to 94, corrupting medians and the derived
    // efficiency with no error. levelJson must be locale-independent.
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val line = ScalingBench.levelJson(sample)
      assert(line.contains(""""lp_wall":94.017"""), s"comma decimal leaked: $line")
      assert(line.contains(""""pr_med_iter":5.2401"""), s"comma decimal leaked: $line")
      val parsed = ScalingBench.parseLevel(line)
      assert(math.abs(parsed.lpWall - sample.lpWall) < 1e-3)
      assert(math.abs(parsed.prMedIter - sample.prMedIter) < 1e-4)
    } finally java.util.Locale.setDefault(saved)
  }

  test("parseLevel fails loudly on a line missing a field") {
    val broken = ScalingBench.levelJson(sample).replace("\"pr_fp\"", "\"xx\"")
    val e = intercept[IllegalStateException](ScalingBench.parseLevel(broken))
    assert(e.getMessage.contains("pr_fp"))
  }

  test("a pretty-printed level line parses") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val pretty = mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(mapper.readTree(ScalingBench.levelJson(sample)))
    pretty should include("\"lp_wall\" : 94.017") // spaces around the colon
    ScalingBench.parseLevel(pretty) shouldBe ScalingBench.parseLevel(ScalingBench.levelJson(sample))
  }

  test("a class path without graft.ScalingBench is refused, naming only scripts/run_main.sh") {
    val tmp = java.nio.file.Files.createTempDirectory("scaling-cp")
    val dir = tmp.resolve("classes")
    java.nio.file.Files.createDirectories(dir.resolve("graft"))
    java.nio.file.Files.createFile(dir.resolve("graft/ScalingBench.class"))
    val jar = tmp.resolve("graft.jar").toFile
    scala.util.Using.resource(new java.util.jar.JarOutputStream(
        new java.io.FileOutputStream(jar))) { out =>
      out.putNextEntry(new java.util.jar.JarEntry("graft/ScalingBench.class"))
      out.closeEntry()
    }
    val sep = java.io.File.pathSeparator
    ScalingBench.requireLoadable(s"${tmp.resolve("none")}$sep$dir")
    ScalingBench.requireLoadable(jar.getPath)
    val e = intercept[IllegalArgumentException](
      ScalingBench.requireLoadable(s"${tmp.resolve("none")}$sep${tmp}"))
    e.getMessage should include("scripts/run_main.sh graft.ScalingBench")
    e.getMessage should not include "SPARK_GRAFT"
  }

  test("minLevel takes field-wise timing mins and asserts determinism") {
    val faster = sample.copy(lpWall = 90.0, lpMedIter = 9.5,
      prWall = 430.0, prMedIter = 5.1)
    val m = ScalingBench.minLevel(Seq(sample, faster))
    assert(m.lpWall === 90.0 && m.lpMedIter === 9.5)
    assert(m.prWall === 421.552 && m.prMedIter === 5.1)
    assert(m.lpFp === sample.lpFp)
    // a rep with a different result fingerprint must be refused
    val bad = faster.copy(prFp = 1L)
    intercept[IllegalArgumentException](ScalingBench.minLevel(Seq(sample, bad)))
  }

  test("executor-mode efficiency sums child throughputs against workers × solo") {
    // four children each at exactly solo speed ⇒ eff 1.0 on both algorithms
    val ideal = ScalingBench.execEff(sample, Seq.fill(4)(sample))
    assert(math.abs(ideal._1 - 1.0) < 1e-9 && math.abs(ideal._2 - 1.0) < 1e-9)
    // children at 2× solo per-superstep time ⇒ eff 0.5
    val halved = sample.copy(
      lpMedIter = sample.lpMedIter * 2, prMedIter = sample.prMedIter * 2)
    val degraded = ScalingBench.execEff(sample, Seq.fill(4)(halved))
    assert(math.abs(degraded._1 - 0.5) < 1e-9 && math.abs(degraded._2 - 0.5) < 1e-9)
    // a child whose per-vertex results differ from the solo run is refused
    val bad = sample.copy(lpFp = 1L)
    intercept[IllegalArgumentException](
      ScalingBench.execEff(sample, Seq(sample, bad)))
  }

  test("derived throughput/efficiency math is consistent on parsed levels") {
    val small = ScalingBench.parseLevel(ScalingBench.levelJson(sample))
    val large = small.copy(cpus = 32, lpMedIter = small.lpMedIter / 4.0,
      prMedIter = small.prMedIter / 4.0)
    // perfect 4× per-superstep speedup ⇒ efficiency exactly 1.0
    assert(math.abs(large.lpTput / (4.0 * small.lpTput) - 1.0) < 1e-9)
    assert(math.abs(large.combinedTput / (4.0 * small.combinedTput) - 1.0) < 1e-9)
  }
}
