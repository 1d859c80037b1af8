package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's cross-run comparison rules are the gate that protects every
  * other gate — a reference that reads too slow turns real regressions
  * invisible, one that reads too fast (a previous run on a faster box)
  * latches false alarms. These laws pin the parser that reads the
  * previous run, the box-speed normalisation and the two flagging rules,
  * with no Spark session involved.
  */
class BenchRefSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.1"

  private def body(fields: String): String =
    s"""{"metric":"total","methodology":"${Bench.methodology}",$fields,"sf":"$sf"}"""

  /** The rows `Bench.main` publishes as `inflated`: each min divided by the
    * box ratio, against its own reference. */
  private def flagged(mins: Map[String, Double], ratio: Double,
      refs: Map[String, Double]): Set[String] =
    mins.collect { case (q, m) if refs.get(q).exists(Bench.inflated(m, _, ratio)) => q }.toSet

  // ---- parsePrior -----------------------------------------------------------

  test("parsePrior reads the plain queries mins and the calibration seconds") {
    val p = Bench.parsePrior(body(
      """"queries":{"a":1.5,"b":0.25},"queries_median":{"a":9.0},"calib_s":0.412"""), sf)
    assert(p.queries == Map("a" -> 1.5, "b" -> 0.25))
    assert(p.calib == 0.412)
  }

  test("parsePrior degrades to empty on an sf mismatch or garbage") {
    val txt = body(""""queries":{"a":0.4},"calib_s":0.4""")
    assert(Bench.parsePrior(txt, "/root/testdata/sf0.01") == Bench.noPrior)
    assert(Bench.parsePrior("not json at all", sf) == Bench.noPrior)
    assert(Bench.parsePrior(body(""""queries":{"a":"x"""), sf).queries.isEmpty)
  }

  test("parsePrior reads the flagship rate from pipeline_elements_per_sec only") {
    // an old monotone `flagship_ref` anchor is no longer a reference
    assert(Bench.parsePrior(
      body(""""flagship_ref":523452,"pipeline_elements_per_sec":374976"""),
      sf).rate == 374976.0)
    assert(Bench.parsePrior(body(""""flagship_ref":523452"""), sf).rate == 0.0)
  }

  test("parsePrior accepts scientific notation (rates >= 1e7 " +
    "render as 1.9E7)") {
    assert(Bench.parsePrior(
      body(""""pipeline_elements_per_sec":1.9E7"""), sf).rate == 1.9e7)
  }

  test("parsePrior's flagship rate degrades to 0 on sf mismatch") {
    assert(Bench.parsePrior(
      body(""""pipeline_elements_per_sec":523452"""), "/other/sf").rate == 0.0)
  }

  // ---- refsCompatible (methodology gate) ------------------------------------

  test("a bench_out.json without the current methodology marker " +
    "contributes no references") {
    // count-era (r16 moved to noop materialization) and uncalibrated noop
    // files both carry times from a different measurement: they re-seed
    val countEra = """{"queries":{"a":0.4},"calib_s":0.4,"sf":"""" + sf + "\"}"
    assert(!Bench.refsCompatible(countEra))
    assert(Bench.parsePrior(countEra, sf) == Bench.noPrior)
    val noop = countEra.replace("{\"queries\"", "{\"methodology\":\"noop\",\"queries\"")
    assert(!Bench.refsCompatible(noop))
    assert(Bench.parsePrior(noop, sf) == Bench.noPrior)
    val current = body(""""queries":{"a":0.4},"calib_s":0.4""")
    assert(Bench.refsCompatible(current))
    assert(Bench.parsePrior(current, sf) == Bench.Prior(Map("a" -> 0.4), 0.4, 0.0))
  }

  test("tx18: a prior file carrying an old queries_ref block gives no references") {
    // the stale monotone reference that flagged clean sweeps
    val old = """{"metric":"total","methodology":"noop",""" +
      """"queries":{"tx18":0.9},"queries_ref":{"tx18":0.31},""" +
      """"flagship_ref":562998,"pipeline_elements_per_sec":394818,"sf":"""" + sf + "\"}"
    assert(Bench.parsePrior(old, sf) == Bench.noPrior)
  }

  // ---- inflationThreshold (1.5x + flat 0.5 s slack — VERDICT r14 #1) ------

  test("every row gets a 0.5 s absolute slack on top of the 1.5x ratio") {
    // the r14 false alarm: dd22 min 2.635 vs ref 1.625 — 1.62x, but only
    // +1.01 s absolute; with slack the threshold is 2.9375 so it passes
    assert(Bench.inflationThreshold(1.625) == 1.5 * 1.625 + 0.5)
    assert(2.635 <= Bench.inflationThreshold(1.625))
    // a genuinely contended sample still trips it (ss25: 3.633 vs 1.103)
    assert(3.633 > Bench.inflationThreshold(1.103))
    // a real 1.6x regression on a long row is still flagged — the flat
    // slack is proportionally negligible there
    assert(8.0 > Bench.inflationThreshold(4.9))
  }

  test("the threshold is MONOTONE in the reference (no step at 2 s)") {
    // a gated short-row slack would give a SLOWER ref a STRICTER
    // absolute bar around the boundary (threshold(1.99) > threshold(2.01)
    // under the stepped form) — a ref drifting across 2 s between rounds
    // would abruptly lose its slack and latch a phantom regression
    assert(Bench.inflationThreshold(1.99) < Bench.inflationThreshold(2.01))
    val refs = Seq(0.1, 0.5, 1.0, 1.99, 2.0, 2.01, 3.0, 10.0)
    assert(refs.map(Bench.inflationThreshold) == refs.map(Bench.inflationThreshold).sorted)
  }

  // ---- familyDrift (aggregate short-row guard — VERDICT r15 #2) -----------

  test("uniform short-row drift past 1.3x of the family's reference mass " +
    "latches the drift flag") {
    // 25 rows, each ref 0.5 s, each drifted to 0.7 s (+0.4 s aggregate
    // window per row is exactly what the per-row 0.5 s slack waves past)
    val rows = Seq.fill(25)((0.7, 0.5))
    assert(Bench.familyDrift(rows))
    // the same family at its reference mass stays quiet
    assert(!Bench.familyDrift(Seq.fill(25)((0.5, 0.5))))
    // 1.2x aggregate is inside the bar — run-to-run spread, not drift
    assert(!Bench.familyDrift(Seq.fill(25)((0.6, 0.5))))
  }

  test("drift needs >= 20 family rows — a couple of contended short rows " +
    "cannot latch it") {
    val rows = Seq.fill(19)((0.9, 0.5))
    assert(!Bench.familyDrift(rows))
    assert(Bench.familyDrift(rows :+ ((0.9, 0.5))))
  }

  test("drift ignores rows outside the [0.1, 2) s reference family") {
    // long rows (per-row ratio test already has teeth) and trivial rows
    // (scheduler jitter) must not enter the aggregate in either direction
    val longRows = Seq.fill(30)((6.0, 4.0))   // 1.5x but ref >= 2
    val tinyRows = Seq.fill(30)((0.09, 0.05)) // 1.8x but ref < 0.1
    assert(!Bench.familyDrift(longRows))
    assert(!Bench.familyDrift(tinyRows))
    // and a drifting short family still latches with quiet long rows mixed in
    assert(Bench.familyDrift(Seq.fill(25)((0.7, 0.5)) ++ longRows.map {
      case (_, r) => (r, r)
    }))
  }

  test("drift degrades safely on empty and zero-reference input") {
    assert(!Bench.familyDrift(Seq.empty))
    assert(!Bench.familyDrift(Seq.fill(25)((0.5, 0.0))))
  }

  // ---- boxRatio and the normalised comparison -------------------------------

  test("missing or zero calibration on either side gives box ratio 1.0; " +
    "silence never suppresses a flag") {
    assert(Bench.boxRatio(0.58, 0.4) == 0.58 / 0.4)
    for ((c, p) <- Seq((0.0, 0.4), (0.4, 0.0), (-1.0, 0.4), (0.4, -1.0),
        (0.0, 0.0), (Double.NaN, 0.4)))
      assert(Bench.boxRatio(c, p) == 1.0, s"calib $c vs prior $p")
    // a 3x row is still flagged when no calibration was read
    assert(Bench.inflated(3.0, 1.0, Bench.boxRatio(0.0, 0.4)))
  }

  test("a uniform box slowdown (r16/r18: every time and the calibration " +
    "x1.45) flags nothing") {
    val refs = (0 until 60).map(i => s"q$i" -> (0.1 + i * 0.08)).toMap
    val slow = refs.map { case (q, r) => q -> r * 1.45 }
    val ratio = Bench.boxRatio(0.4 * 1.45, 0.4)
    assert(flagged(slow, ratio, refs).isEmpty)
    assert(!Bench.familyDrift(slow.toSeq.map { case (q, m) => (m / ratio, refs(q)) }))
    // unnormalised, the same run latches drift — the false alarm removed
    assert(Bench.familyDrift(slow.toSeq.map { case (q, m) => (m, refs(q)) }))
  }

  test("r14 dd22/ss25: 2.635 s against ref 1.625 on an unchanged box is " +
    "not inflated") {
    assert(!Bench.inflated(2.635, 1.625, 1.0))
  }

  test("a real regression on a slow box is flagged: one row x3 under a " +
    "x1.45 box") {
    val refs = Map("a" -> 0.5, "b" -> 1.2, "c" -> 4.0, "d" -> 0.3)
    val run = refs.map { case (q, r) => q -> r * 1.45 } + ("b" -> 1.2 * 3 * 1.45)
    assert(flagged(run, Bench.boxRatio(0.58, 0.4), refs) == Set("b"))
  }

  test("references under 0.1 s never flag") {
    assert(!Bench.inflated(5.0, 0.09, 1.0))
  }

  test("25 short rows at x1.4: drift latches at box ratio 1.0, not at 1.4") {
    val rows = Seq.fill(25)((0.7, 0.5))
    assert(Bench.familyDrift(rows.map { case (m, r) => (m / 1.0, r) }))
    assert(!Bench.familyDrift(rows.map { case (m, r) => (m / 1.4, r) }))
  }

  // ---- flagshipInflated -----------------------------------------------------

  test("flagship: a failed pass is never compared, and a normalised rate " +
    "under prior/1.5 is flagged") {
    assert(!Bench.flagshipInflated(0.0, 500000, 1.0, failed = true))
    assert(Bench.flagshipInflated(300000, 500000, 1.0, failed = false))
    // the same rate on a box 1.45x slower is the prior speed: not flagged
    assert(!Bench.flagshipInflated(300000, 500000, 1.45, failed = false))
    // no prior rate: nothing to compare against
    assert(!Bench.flagshipInflated(1.0, 0.0, 1.0, failed = false))
    // a real 2x slowdown on that slow box still flags
    assert(Bench.flagshipInflated(150000, 500000, 1.45, failed = false))
  }
}
