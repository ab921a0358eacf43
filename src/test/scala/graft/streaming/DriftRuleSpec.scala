package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** The shared moment-drift rule, pinned directly (its two callers —
  * [[CorpusMonitor.drift]] and [[StreamingAnnIndex.maybeRefreshOnDrift]],
  * which both vector stores' drift loops run — each pin their own
  * composition; this pins the rule itself, especially the zero-sd noise
  * floor both the column and scalar forms must agree on).
  */
class DriftRuleSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def z(shift: Double, sd: Double): Double =
    Seq(1).toDF("x")
      .select(DriftRule.zScore(lit(shift), lit(sd)).as("z"))
      .as[Double].head()

  test("column zScore: sd-scaled when the baseline has spread") {
    z(0.5, 0.1) shouldBe 5.0
    z(0.0, 0.1) shouldBe 0.0
  }

  test("column zScore at sd 0: the noise floor separates rounding grain from drift") {
    // one rounding grain (1e-6) is representation noise — never drift
    z(1e-6, 0.0) shouldBe 0.0
    z(DriftRule.MinShiftAtZeroSd, 0.0) shouldBe 0.0 // boundary: strict >
    z(3e-6, 0.0) shouldBe Double.PositiveInfinity
    z(0.5, 0.0) shouldBe Double.PositiveInfinity
  }

  test("scalar oneSidedFired agrees with the column form on every branch") {
    DriftRule.oneSidedFired(0.5, 0.1, 3.0) shouldBe true // z = 5 > 3
    DriftRule.oneSidedFired(0.2, 0.1, 3.0) shouldBe false // z = 2 < 3
    DriftRule.oneSidedFired(-0.5, 0.1, 3.0) shouldBe false // improvement, one-sided
    DriftRule.oneSidedFired(1e-6, 0.0, 3.0) shouldBe false // rounding grain
    DriftRule.oneSidedFired(3e-6, 0.0, 3.0) shouldBe true // past the floor
  }

  test("mean6/sd6: the shared grain, with the 1-row NaN rule") {
    val row = Seq(1.23456789).toDF("v")
      .agg(DriftRule.mean6(col("v")).as("m"), DriftRule.sd6(col("v")).as("s"))
      .as[(Double, Double)].head()
    row._1 shouldBe 1.234568 // 6-decimal grain
    row._2 shouldBe 0.0 // stddev_samp of 1 row is NaN in Spark → 0, not NaN
  }
}
