package graft.tools

import graft.SparkTestSession.{sf, spark}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the predicted-vs-observed optimizer contract (VERDICT r17 #3):
  * the committed FLAGSHIP.md states the band; this spec latches it so a
  * prediction-quality regression (unit mistake, rate inversion, broken
  * theta application — all of which read as 10-1000x gaps) fails the
  * build rather than silently shipping a model that no longer predicts.
  */
class FlagshipReportSpec extends AnyFunSuite {

  test("the LP's binding-op prediction holds on an instrumented re-run " +
    "of the rewritten pipeline: observed/predicted within [0.25, 4], " +
    "and the rewrite never regresses the wall rate below 0.7x") {
    // The bands are TIMING bands over in-test wall measurements; a
    // shared box swinging 1.5-1.8x intra-day (r19's documented drift)
    // can push one sample out of band while the same measurement passes
    // solo. So each band is checked on the MEDIAN of three gathers — a
    // robust statistic, not a retry: one outlier gather decides nothing
    // either way, and a one-sided band needs two of three gathers in
    // band (3q²-2q³ for a per-gather pass rate q).
    // The bands themselves are unchanged.
    val gathers = Seq.fill(3)(FlagshipReport.gather(spark, sf, benchIterations = 2))
    def median(xs: Seq[Double]): Double = xs.sorted.apply(1)
    gathers.foreach { e =>
      assert(e.predictedRate > 0, "LP must produce a positive rate")
      assert(e.bindingPredicted > 0 && e.bindingObserved > 0,
        s"degenerate binding-op rates: $e")
    }
    val ratio = median(gathers.map(_.ratio))
    val speedup = median(gathers.map(_.speedup))
    assert(ratio >= 0.25 && ratio <= 4.0,
      f"median observed/predicted $ratio%.3f left the stated band " +
        "[0.25, 4]: " + gathers.map(e => f"${e.ratio}%.3f (predicted " +
          f"${e.bindingPredicted}%.0f, observed ${e.bindingObserved}%.0f " +
          s"at ${e.bindingOp})").mkString(", "))
    assert(speedup >= 0.7,
      f"rewritten pipeline regressed the median wall rate: $speedup%.2fx " +
        gathers.map(e => f"${e.speedup}%.2f").mkString("(", ", ", ")"))
    // the rendered artifact carries both headline numbers
    val md = FlagshipReport.render(gathers.head)
    assert(md.contains("Estimated_Max_Rate_Convex") &&
      md.contains("OBSERVED effective rate"))
  }
}
