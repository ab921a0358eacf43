package graft.streaming

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** THE moment-based drift rule, shared by every judge in the library —
  * [[CorpusMonitor.drift]] (content drift of an ingest stream, two-sided),
  * and [[StreamingAnnIndex.maybeRefreshOnDrift]] (assignment-quality sag
  * of a maintained vector index, one-sided; the IVF lifecycle that both
  * vector stores run). One definition keeps the
  * guards coherent: the moments' rounding grain, the zero-sd branch's
  * noise floor, and the sd-0/empty-input conventions cannot drift apart
  * between judges that are supposed to implement the same rule.
  *
  * The rule itself: a batch mean shifted more than `z` baseline STANDARD
  * DEVIATIONS (the baseline's PER-UNIT sd, not sd/√n — deliberately
  * conservative) counts as drift; a zero-sd baseline — a degenerate corpus
  * with no spread to scale by — fires on any shift past the moment
  * representation grain. Moment-based, not distributional (KS/χ²): a
  * mean-of-millions moves only on real shifts, and the rule stays
  * reproducible in plain SQL, which is what lets the DuckDB oracle check
  * it bit-for-bit.
  */
object DriftRule {

  /** Moments are frozen, compared, and oracled at this many decimals so
    * profiles agree across engines (Spark, DuckDB, a reader of the log).
    */
  val MomentDecimals: Int = 6

  /** The zero-sd branch's noise floor: two rounding grains above the
    * [[MomentDecimals]] representation grain. With sd 0 any positive
    * shift would otherwise fire — including the ≤1e-6 difference pure
    * 6-decimal rounding can manufacture between a batch mean and the
    * baseline mean of the SAME distribution, which for an index-refresh
    * judge triggers a corpus-sized rebuild and (the refresh re-baselining
    * over the same degenerate corpus, sd 0 again) can re-fire forever on
    * representation noise alone.
    */
  val MinShiftAtZeroSd: Double = 2e-6

  /** Batch/corpus mean at the shared rounding grain. */
  def mean6(c: Column): Column = round(avg(c), MomentDecimals)

  /** Sample sd at the shared grain, with the two degenerate-input rules
    * every judge needs: Spark's `stddev_samp` yields NaN (not NULL) for a
    * 1-row group — mapped through `nanvl` BEFORE the null coalesce so a
    * 1-row profile lands at 0, the DuckDB NULL→0 path (a judge would
    * otherwise z-score against NaN and every verdict would be false).
    */
  def sd6(c: Column): Column =
    round(coalesce(nanvl(stddev(c), lit(0.0)), lit(0.0)), MomentDecimals)

  /** Column-form z of a mean shift against a frozen baseline sd: shift in
    * units of sd when the baseline has spread; Infinity when a zero-sd
    * baseline moved past the noise floor; 0 otherwise. Callers pass the
    * shift DIRECTION they judge (two-sided: `abs(mean − bMean)`;
    * one-sided sag: `bMean − mean`).
    */
  def zScore(shift: Column, baselineSd: Column): Column =
    when(baselineSd > 0.0, shift / baselineSd)
      .when(shift > MinShiftAtZeroSd, lit(Double.PositiveInfinity))
      .otherwise(lit(0.0))

  /** Scalar-form one-sided decision (the index-refresh judges collect a
    * 1-row aggregate and decide driver-side): fired iff the sag exceeds
    * `z` baseline sds — or, for a zero-sd baseline, the noise floor.
    */
  def oneSidedFired(sag: Double, baselineSd: Double, z: Double): Boolean =
    if (baselineSd > 0.0) sag / baselineSd > z
    else sag > MinShiftAtZeroSd
}
