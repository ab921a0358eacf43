package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** DSIR-style data selection — importance resampling of a raw corpus toward
  * a target distribution (Xie et al., "Data Selection for Language Models
  * via Importance Resampling", NeurIPS 2023; public method description).
  * The standard pass for steering a crawl corpus toward a high-quality
  * domain without training a classifier:
  *
  *   1. featurize every document as a BAG of hashed n-grams (unigrams +
  *      bigrams hashed into `numBuckets` buckets);
  *   2. fit two bag-of-words models — bucket frequencies under the TARGET
  *      corpus and under the RAW corpus (add-one smoothing);
  *   3. a document's importance weight is the sum over its gram occurrences
  *      of log p_target(bucket) − log p_raw(bucket);
  *   4. resample raw documents by weight — here Gumbel top-k, which is
  *      exactly sampling-without-replacement proportional to exp(weight).
  *
  * Scale shape (100 TB): the only corpus-sized work is two scans of the raw
  * side (one aggregate-only pass for bucket counts, one exploded pass for
  * per-doc weights) and one of the target side; the bucket tables are
  * `numBuckets` rows — broadcast — so the per-doc weight pass is a narrow
  * broadcast join + one hash aggregate on the doc id. No shuffle ever
  * carries gram strings, only (id, bucket) pairs. Resampling is a
  * TakeOrdered top-k: per-partition heaps, no global sort materialization.
  *
  * Determinism contract (what makes the DuckDB oracle byte-exact):
  *  - buckets come from [[Hashing.md5Long60]] — portable across engines;
  *  - the per-bucket log-ratio is computed once, in a fixed expression shape
  *    (IEEE doubles are deterministic given identical operand order), then
  *    scaled to nano-units and FLOORED TO A LONG — so the per-doc sum is
  *    integer arithmetic, immune to float summation order;
  *  - the Gumbel noise is derived from the doc id's md5 bucket, not a
  *    runtime RNG — reproducible and append-stable like [[Sampling]].
  */
object Dsir {

  private val NanoScale = 1e9

  /** Unigram + bigram multiset of a whitespace token array (bag semantics:
    * repeats count — these are frequency models, unlike the DISTINCT
    * shingles of the dedup family).
    */
  private[scale] def unigramsAndBigrams(toks: Column): Column = concat(
    toks,
    when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", get(toks, i), get(toks, i + 1))))
      .otherwise(array().cast("array<string>")))

  /** (id, bucket) pair per gram occurrence. Tokens staged as their own
    * projection (the [[Decontam]] lesson: inlining `split` into the lambda
    * re-tokenizes per gram).
    */
  private def docBuckets(df: DataFrame, idCol: String, textCol: String,
                         numBuckets: Int): DataFrame =
    // round-robin fanout first (the withShingles discipline): one
    // md5Long60 per gram occurrence is the pass's CPU, and a
    // single-input-split corpus would hash serially on the scan task
    // (r14 stage profile: both raw-side passes ran as one task). All
    // consumers are hash aggregations — order-independent.
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
      .withColumn("_toks", split(col(textCol), " "))
      .select(col(idCol), unigramsAndBigrams(col("_toks")).as("_g"))
      // explode_outer + isNotNull ≡ explode here (split never yields null
      // elements, so only a null text row differs — dropped by both), but
      // explode's implicit isnotnull/size>0 constraints push into the scan
      // with the gram pipeline inlined per conjunct: measured 2.3 s vs
      // 0.3 s at sf0.1 for this one generator choice (the Decontam
      // pathology again)
      .select(col(idCol), explode_outer(col("_g")).as("_gram"))
      .where(col("_gram").isNotNull)
      .select(col(idCol),
        pmod(Hashing.md5Long60(col("_gram")), lit(numBuckets.toLong)).as("_bucket"))

  /** Per-raw-document importance weights: (idCol, n_feats, log_w) where
    * `log_w` = Σ_grams [log p_target(bucket) − log p_raw(bucket)], add-one
    * smoothed, rounded to 6 dp. Positive ⇒ the document looks more like the
    * target corpus than the raw corpus average.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, numBuckets: Int = 1024): DataFrame =
    weightsNano(raw, target, idCol, textCol, numBuckets)
      .select(col(idCol), col("n_feats"),
        round(col("_w_nano") / NanoScale, 6).as("log_w"))

  /** [[importanceWeights]] + deterministic Gumbel top-`k` resampling:
    * the `k` raw documents with the largest `score` = log_w + Gumbel(id),
    * ties broken by id. Equivalent to drawing k docs without replacement
    * with probability ∝ exp(log_w).
    */
  def resampleTopK(raw: DataFrame, target: DataFrame, idCol: String,
                   textCol: String, k: Int, numBuckets: Int = 1024): DataFrame = {
    // uniform in (0,1) from the id's 60-bit md5; +0.5 keeps u off 0 and 1,
    // where the double log chain diverges
    val u = (Hashing.md5Long60(col(idCol).cast("string")) + lit(0.5)) /
      lit(1152921504606846976.0) // 2^60
    val gumbel = -log(-log(u))
    weightsNano(raw, target, idCol, textCol, numBuckets)
      .select(col(idCol),
        round(col("_w_nano") / NanoScale + gumbel, 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Shared core: per-doc weight in exact nano-units (LONG). */
  private def weightsNano(raw: DataFrame, target: DataFrame, idCol: String,
                          textCol: String, numBuckets: Int): DataFrame = {
    require(numBuckets >= 2, s"numBuckets out of range: $numBuckets")
    val k = lit(numBuckets.toDouble)

    def bucketCounts(df: DataFrame, cnt: String) =
      docBuckets(df, idCol, textCol, numBuckets)
        .groupBy("_bucket").agg(count(lit(1)).as(cnt))

    val tc = bucketCounts(target, "_ct")
    val rc = bucketCounts(raw, "_cr")
    // corpus totals: one-row dimensions, broadcast onto the K-row table
    val tot = tc.agg(sum(col("_ct")).as("_nt"))
      .crossJoin(rc.agg(sum(col("_cr")).as("_nr")))
    // log-ratio per bucket, floored to nano-LONGs: the fixed expression
    // shape below is mirrored verbatim in the SQL oracle, and the floor
    // makes every downstream sum order-independent integer math
    val ratios = tc.join(rc, Seq("_bucket"), "full_outer")
      .na.fill(0L, Seq("_ct", "_cr"))
      .crossJoin(broadcast(tot))
      .select(col("_bucket"),
        floor(log(
          ((col("_ct") + lit(1.0)) / (col("_nt") + k)) /
            ((col("_cr") + lit(1.0)) / (col("_nr") + k))) * lit(NanoScale))
          .cast(LongType).as("_lr_nano"))

    docBuckets(raw, idCol, textCol, numBuckets)
      .join(broadcast(ratios), Seq("_bucket"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_feats"), sum(col("_lr_nano")).as("_w_nano"))
  }
}
