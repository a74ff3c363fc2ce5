package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract pins for the bench canary-drift gate (VERDICT r8 lead
  * item). The clean-box r9 record never triggered the resweep path, so
  * the gate logic is pinned here rather than left to the next poisoned
  * run to exercise. */
class BenchGateSpec extends AnyFunSuite {

  test("flat clean-box triple passes") {
    assert(!Bench.canaryDrifted((0.143, 0.192, 0.140)))
    assert(!Bench.canaryDrifted((0.12, 0.15, 0.14)))
  }

  test("the r08 poisoned triple is caught") {
    // the actual r08 record: 0.139 start -> 2.204 end (16x)
    assert(Bench.canaryDrifted((0.139, 0.152, 2.204)))
  }

  test("mid-run load that clears before the end is still caught") {
    assert(Bench.canaryDrifted((0.14, 1.9, 0.15)))
  }

  test("a box loaded from the START trips the absolute floor despite a flat ratio") {
    // all three inflated together: ratio ~1, but every sample is far
    // above the 0.10-0.25 s clean signature
    assert(Bench.canaryDrifted((0.62, 0.70, 0.65)))
  }

  test("small jitter below both thresholds passes") {
    // 2.4x ratio but max under the 0.5 s floor
    assert(!Bench.canaryDrifted((0.10, 0.24, 0.12)))
  }

  test("a raised floor accommodates a legitimately slower configuration") {
    // e.g. a bigger sf or fewer cores: flat triple above the sf0.1
    // floor must pass once the floor is set for that configuration
    assert(!Bench.canaryDrifted((0.62, 0.70, 0.65), floor = 1.5))
    assert(Bench.canaryDrifted((0.62, 0.70, 1.9), floor = 1.5))
  }

  test("failed canary samples are ignored, not treated as drift") {
    assert(!Bench.canaryDrifted((-1.0, 0.15, 0.14)))
    assert(!Bench.canaryDrifted((-1.0, -1.0, -1.0)))
  }

  test("mergeMin takes the per-query minimum across honest samples") {
    val first = Seq("a" -> 1.0, "b" -> 5.0, "c" -> -1.0, "d" -> 2.0)
    val second = Map("a" -> 2.0, "b" -> 3.0, "c" -> 4.0)
    val m = Bench.mergeMin(first, second).toMap
    assert(m("a") == 1.0, "first sample wins when smaller")
    assert(m("b") == 3.0, "resweep sample wins when smaller")
    assert(m("c") == 4.0, "a valid resweep replaces a FAILED first sample")
    assert(m("d") == 2.0, "a query absent from the resweep keeps its first sample")
  }

  test("mergeMin never lets a failed resweep erase an honest first sample") {
    val m = Bench.mergeMin(Seq("a" -> 1.5), Map("a" -> -1.0)).toMap
    assert(m("a") == 1.5)
  }

  test("sweep loop: pinned two-sweep minimum; retries on a dirty canary up to the budget") {
    val dirty = (0.14, 1.9, 0.15)
    val clean = (0.12, 0.15, 0.14)
    assert(Bench.sweepAgain(1, dirty, 0.5), "a dirty first pass forces a resweep")
    assert(Bench.sweepAgain(2, dirty, 0.5),
      "a still-dirty second pass gets ONE more chance (VERDICT r10 item 4)")
    assert(!Bench.sweepAgain(3, dirty, 0.5), "the budget is 3 sweeps total")
    // r15 sweep-count pin: official values are min-across-sweeps, so a
    // 1-sweep record and a 2-sweep record measure different regimes
    // (the r13-vs-r14 +44% artifact). Every record runs >= MinSweeps.
    assert(Bench.sweepAgain(1, clean, 0.5),
      "a clean first pass still gets its steady-state second sweep (MinSweeps pin)")
    assert(!Bench.sweepAgain(2, clean, 0.5), "a clean second sweep ends the loop")
  }

  test("every registered query has a committed clean-box target (VERDICT r9 item 7)") {
    // A query with no entry in tools/bench_targets.json only becomes a
    // retime suspect above the 10 s no-target rule — a 9 s regression in
    // a new operator would pass unchallenged. This gate fails loudly the
    // moment an operator is registered without a target.
    val targets = Bench.parseFlatJson(
      scala.io.Source.fromFile("tools/bench_targets.json").mkString)
    val missing = SparkEntry.queries.keySet -- targets.keySet
    assert(missing.isEmpty,
      s"queries missing a bench target: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("the committed APPROX_BOUNDS.json matches the working artifact when both exist") {
    // VERDICT r9 item 2: the root copy went one regeneration stale. Both
    // files are now written from the same string by
    // ApproxBounds.writeArtifacts; this pin catches any future drift
    // between them (e.g. a hand edit of one copy).
    val root = new java.io.File("APPROX_BOUNDS.json")
    val work = new java.io.File("target/approx_bounds.json")
    if (root.exists && work.exists) {
      val r = scala.io.Source.fromFile(root).mkString.trim
      val w = scala.io.Source.fromFile(work).mkString.trim
      assert(r == w, "APPROX_BOUNDS.json and target/approx_bounds.json have diverged — " +
        "re-run graft.Dev bounds (or Bench) to regenerate both from one measurement")
    }
  }
}
