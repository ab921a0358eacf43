package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.KmvSketch

/** Deterministic distinct-count sketching over DataFrames.
  *
  * `approx_count_distinct` (HLL++) is the built-in answer, and
  * ApproxAggSpec pins its accuracy band — but HLL register layouts are
  * implementation-private, so its results can neither be oracled against
  * another engine nor persisted as portable state. KMV fills that gap:
  * same O(k) mergeable fixed-size state, but the sketch is a pure function
  * of the input set (the k smallest [[Hashing.md5Long60]] hashes), so any
  * engine reproduces it bit-for-bit and sketches persisted by different
  * systems can be merged. The price is a slightly worse error constant
  * than HLL at equal memory (relative sd ≈ 1/sqrt(k-2)).
  */
object Sketches {

  /** Standard KMV estimate from a sorted ascending sketch: exact size when
    * the sketch is not full (it IS the distinct set), else
    * floor((k-1) · 2^60 / h_k). All doubles involved are exact
    * (63·2^60 needs 6 significand bits) and the one division is a single
    * IEEE op, so the estimate is engine-reproducible. h_k = 0 cannot occur
    * twice (hashes are distinct) but is floored to 1 to keep the
    * expression total.
    */
  def kmvEstimate(kmv: Column, k: Int): Column =
    when(size(kmv) < k, size(kmv).cast(LongType))
      .otherwise(floor(lit((k - 1).toDouble) * pow(lit(2.0), lit(60.0)) /
        greatest(element_at(kmv, k), lit(1L))))

  /** Per-group distinct-count estimate of `valueCol`: ONE pass, one
    * shuffle of ≤k longs per group (map-side partial sketches merge
    * associatively — the plan shape that survives any corpus size).
    * Output: groupCols*, kmv (sorted ARRAY<LONG>, ≤k), n_est.
    */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: Int): DataFrame = {
    val hv = Hashing.md5Long60(col(valueCol).cast("string"))
    df.filter(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(KmvSketch.kmv(hv, k).as("kmv"))
      .withColumn("n_est", kmvEstimate(col("kmv"), k))
  }

  /** Merge persisted sketches (e.g. per-shard or per-day partials) back
    * into one sketch per group: re-aggregating sketch ELEMENTS with the
    * same KMV aggregate is exactly the k-smallest of the union, so
    * merge(sketch(A), sketch(B)) == sketch(A ∪ B) — the property
    * KmvSketchSpec pins. Input: (groupCols*, kmv); output the same shape.
    */
  def kmvMergeSketches(sketches: DataFrame, groupCols: Seq[String],
                       k: Int): DataFrame =
    sketches.select(groupCols.map(col) :+ explode(col("kmv")).as("_hv"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(KmvSketch.kmv(col("_hv"), k).as("kmv"))

  // --------------------------------------------------------------------
  // Count-min sketch — KMV's frequency-estimation sibling, and like it
  // deterministic by construction: bucket assignment is the portable
  // [[Hashing.md5Long60]] over (depth || U+0001 || value), so any engine
  // rebuilds the identical sketch (no private register layout to trust).
  // The sketch is a (depth, bucket, cnt) TABLE rather than an opaque blob:
  // built by ONE hash aggregation (d rows per input row, map-side
  // combined, shuffle bounded by d·w regardless of corpus size), merged
  // across shards/days by summing cnt per (depth, bucket), and probed by
  // an equi-join. Estimates never undercount (CMS guarantee); error is
  // bounded by ceil(e·N/w) with probability 1 - exp(-d).
  // --------------------------------------------------------------------

  /** Per-depth bucket of a value: pmod(md5Long60(depth ∥ value), width).
    * U+0001 separates depth from value so "1"+"2x" ≠ "12"+"x"; values
    * containing U+0001 would need a different separator (tokens don't).
    */
  private def cmsBucket(depth: Column, value: Column, width: Int): Column =
    pmod(Hashing.md5Long60(
      concat_ws("\u0001", depth.cast("string"), value.cast("string"))),
      lit(width.toLong))

  /** Build the sketch: one row per non-empty (depth, bucket) with the
    * occurrence count — or one sketch PER GROUP when `groupCols` is
    * non-empty (a per-source frequency table is groupCols = Seq("source");
    * each group's rows form an independent, independently-mergeable
    * sketch). NULL values are skipped (mirrors count semantics).
    */
  def cmsBuild(df: DataFrame, valueCol: String, depth: Int, width: Int,
               groupCols: Seq[String] = Nil): DataFrame = {
    require(depth >= 1 && width >= 2, s"cms d=$depth w=$width out of range")
    // round-robin fanout first (the withShingles discipline): the d md5
    // hashes per value are the operator's CPU, and a single-input-split
    // corpus would run them serially on the scan task (r14 stage profile:
    // one task, 2.7 s of the query's 3.6). Bucket counts are
    // order-independent, so determinism is unaffected.
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    df.filter(col(valueCol).isNotNull)
      .repartition(n)
      .select(groupCols.map(col) :+
        posexplode(transform(sequence(lit(0), lit(depth - 1)),
          i => cmsBucket(i, col(valueCol), width))).as(Seq("depth", "bucket")): _*)
      .groupBy((groupCols :+ "depth" :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge shard sketches built with identical (d, w) and group columns:
    * elementwise sum. merge(cms(A), cms(B)) == cms(A ⊎ B) exactly
    * (counts are linear).
    */
  def cmsMerge(sketches: DataFrame, groupCols: Seq[String] = Nil): DataFrame =
    sketches.groupBy((groupCols :+ "depth" :+ "bucket").map(col): _*)
      .agg(sum("cnt").as("cnt"))

  /** Estimate each item's frequency: min over depths of its bucket count.
    * The sketch is tiny (≤ d·w rows) — broadcast it so the probe is a
    * shuffle-free map-side join at any item cardinality. Items absent from
    * every bucket estimate 0 (never happens for items that were counted).
    * NULL items are dropped to mirror [[cmsBuild]]'s NULL policy — without
    * the filter, `concat_ws` silently drops the null and the bare depth
    * string would hash to an arbitrary bucket whose count would be
    * reported as the "frequency" of NULL. Output: itemCol, n_est.
    */
  def cmsLookup(sketch: DataFrame, items: DataFrame, itemCol: String,
                depth: Int, width: Int, groupCols: Seq[String] = Nil): DataFrame =
    items
      .filter(col(itemCol).isNotNull)
      .select(groupCols.map(col) :+ col(itemCol) :+
        posexplode(transform(sequence(lit(0), lit(depth - 1)),
          i => cmsBucket(i, col(itemCol), width))).as(Seq("depth", "bucket")): _*)
      .join(broadcast(sketch), groupCols ++ Seq("depth", "bucket"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy((groupCols :+ itemCol).map(col): _*)
      .agg(min("cnt").as("n_est"))
}
