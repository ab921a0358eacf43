package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Model-based quality filtering — the linear-classifier inference pass
  * (hashed bag-of-ngrams features × a broadcast weight vector) that LLM
  * curation pipelines run corpus-wide to gate documents on a TRAINED
  * signal rather than heuristics (the fasttext-style quality classifiers
  * of the GPT-3/CCNet lineage; [[LangModel]] is the generative sibling).
  * Inference only: the model trains offline on labeled samples; what must
  * scale is this corpus pass.
  *
  * Scale shape (100 TB): featurization is a narrow per-row explode +
  * one (doc, feature)-keyed count; the model is nFeatures rows — broadcast
  * (a fasttext quality model is ~10⁵-10⁶ hashed buckets, KBs to MBs); the
  * score is one map-side-combined per-doc aggregation. No shuffle touches
  * anything wider than (doc_id, feature, cnt).
  *
  * Determinism: features hash with [[Hashing.md5Long60]] (portable,
  * oracle-checkable); per-feature contributions are rounded to 6 dp and
  * summed in DECIMAL, so the score is aggregation-order independent —
  * engine-reproducible like the DSIR/LangModel sums.
  */
object Classifier {

  /** Hashed (unigram + bigram) bag-of-ngrams: (idCol, feature, cnt) with
    * `feature` ∈ [0, nFeatures). Tokenization is lowercase
    * whitespace-split, the same contract as [[TextOps]]; bigrams join with
    * a single space (hash-identical across engines).
    */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
                     nFeatures: Int): DataFrame = {
    require(nFeatures > 0, s"nFeatures must be positive, got $nFeatures")
    // round-robin fanout first (the withShingles discipline): one md5 per
    // gram occurrence is the pass's CPU, and a single-input-split corpus
    // would hash serially on the scan task (r14 stage profile: a 2-task
    // 1.8 s stage). Both gram branches share the one exchange; the
    // (doc, feature) counts downstream are order-independent.
    val fanned = docs.repartition(
      docs.sparkSession.sessionState.conf.numShufflePartitions)
    val toks = filter(split(lower(col(textCol)), " "), w => length(w) > 0)
    val uni = fanned.select(col(idCol), explode(toks).as("_g"))
    val bi = fanned
      .select(col(idCol), toks.as("_t"))
      .where(size(col("_t")) >= 2)
      .select(col(idCol), explode(
        zip_with(
          slice(col("_t"), lit(1), size(col("_t")) - 1),
          slice(col("_t"), lit(2), size(col("_t")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("_g"))
    uni.unionByName(bi)
      .select(col(idCol),
        pmod(Hashing.md5Long60(col("_g")), lit(nFeatures.toLong)).as("feature"))
      .groupBy(col(idCol), col("feature"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Score every document against a linear model: `weights` = (feature
    * LONG, weight DOUBLE) — broadcast — plus a scalar bias. Output one row
    * per input doc: (idCol, score, keep) with
    * score = bias + Σ cnt(f)·w(f) over the doc's hashed features (each
    * term rounded to 6 dp, DECIMAL-summed) and keep = score > threshold.
    * Docs whose features all miss the model (or with empty text) score
    * exactly `bias` — they must not vanish from the gate, hence the left
    * join back onto the doc spine.
    */
  def linearScore(docs: DataFrame, weights: DataFrame, idCol: String,
                  textCol: String, nFeatures: Int, bias: Double = 0.0,
                  threshold: Double = 0.0): DataFrame = {
    val contrib = hashedFeatures(docs, idCol, textCol, nFeatures)
      .join(broadcast(weights), Seq("feature"))
      .groupBy(col(idCol))
      .agg(sum(round(col("cnt") * col("weight"), 6).cast(DecimalType(28, 6)))
        .as("_s"))
    docs.select(col(idCol))
      .join(contrib, Seq(idCol), "left")
      .select(col(idCol),
        round(coalesce(col("_s").cast(DoubleType), lit(0.0)) + lit(bias), 6)
          .as("score"))
      .withColumn("keep", col("score") > threshold)
  }
}
