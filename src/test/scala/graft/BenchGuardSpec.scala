package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's contention defense only adjudicates queries that have a
  * committed reference time — round 5's q60 landed after bench_ref.json
  * was recorded and its 15 s outlier could never be flagged. These pin the
  * coverage defense (ref_missing) and the batch/streaming split.
  */
class BenchGuardSpec extends AnyFunSuite {

  test("a registered query missing from an active ref is flagged") {
    assert(Bench.refGaps(Seq("q1", "q60", "st1"), Map("q1" -> 0.2, "st1" -> 9.0))
      === Seq("q60"))
  }

  test("an inactive ref (empty) disables the check instead of flagging everything") {
    assert(Bench.refGaps(Seq("q1", "q2"), Map.empty) === Seq.empty)
  }

  test("every currently registered query classifies as batch xor streaming-replay") {
    val names = SparkEntry.registry.map(_.name)
    val streaming = names.filter(Bench.isStreamingReplay)
    // st* are exactly the ReplayHarness rows; w1-w3 are batch window twins
    assert(streaming.forall(_.matches("st\\d+_.*")), streaming.mkString(","))
    assert(streaming.size === names.count(_.matches("st\\d+_.*")))
  }

  test("suspect gate is 2x for refs >= 0.3 s and 3x + 0.5 s below") {
    // the grading rule's own 2x threshold: r9's e6 (3.67x of 0.55 s) and
    // r10's e8 (2.62x of 1.18 s) both slipped through the old 3x gate
    assert(Bench.suspectGate(1.18) === 2.36)
    assert(Bench.suspectGate(0.3) === 0.6)
    assert(2.62 * 1.18 > Bench.suspectGate(1.18)) // e8's r10 reading now trips
    assert(Bench.suspectGate(0.1) === 3 * 0.1 + 0.5)
  }

  test("drift divisor only slows the gate (>= 1), is capped at 3, and degrades to 1") {
    assert(Bench.driftDivisor(Some(2.0), Some(1.0)) === 2.0)
    // faster box than the recording must NOT inflate times into suspicion
    assert(Bench.driftDivisor(Some(0.7), Some(1.0)) === 1.0)
    // a contended calibration measurement cannot mask unbounded regressions
    assert(Bench.driftDivisor(Some(10.0), Some(1.0)) === 3.0)
    assert(Bench.driftDivisor(None, Some(1.0)) === 1.0)
    assert(Bench.driftDivisor(Some(1.0), None) === 1.0)
    assert(Bench.driftDivisor(Some(1.0), Some(0.0)) === 1.0)
  }

  test("a query that threw is listed as failed instead of silently leaving the totals") {
    val times = Seq("q2" -> 0.4, "st1" -> -1.0, "q1" -> -1.0, "q3" -> 0.0)
    assert(Bench.failedQueries(times) === Seq("q1", "st1"))
    assert(Bench.failedQueries(Seq("q1" -> 0.2)) === Seq.empty)
  }

  test("calibration key stays out of the query namespace") {
    assert(Bench.CalibrationKey.startsWith("_"))
    assert(Bench.refGaps(Seq("q1"), Map("q1" -> 0.2, Bench.CalibrationKey -> 1.0))
      === Seq.empty)
  }

  test("calibration ref is host-shape-gated: core-count mismatch disables drift") {
    val ref = Map(Bench.CalibrationKey -> 0.4, Bench.CalibrationParKey -> 32.0)
    assert(Bench.calibRefFor(ref, 32) === Some(0.4))
    // a ref recorded on a different core count must NOT feed the divisor —
    // the skew would be silent otherwise (clamped into every gate)
    assert(Bench.calibRefFor(ref, 16) === None)
    // pre-host-shape refs (no par key) stay usable
    assert(Bench.calibRefFor(Map(Bench.CalibrationKey -> 0.4), 32) === Some(0.4))
    assert(Bench.calibRefFor(Map.empty, 32) === None)
  }

  test("the committed bench_ref covers the whole registry (coverage defense teeth)") {
    val p = java.nio.file.Paths.get("bench_ref.json")
    assume(java.nio.file.Files.exists(p))
    val text = java.nio.file.Files.readString(p)
    val refNames = """"([A-Za-z0-9_]+)"\s*:\s*[0-9.Ee+-]+""".r
      .findAllMatchIn(text).map(_.group(1)).toSet
    val gaps = Bench.refGaps(SparkEntry.registry.map(_.name),
      refNames.iterator.map(_ -> 1.0).toMap)
    assert(gaps.isEmpty,
      s"bench_ref.json is stale — re-record it on a quiet box (missing: ${gaps.mkString(", ")})")
  }
}
