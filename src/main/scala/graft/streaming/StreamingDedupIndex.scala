package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

import graft.scale.NearDup

/** Streaming maintenance of the persisted MinHash-LSH index
  * ([[NearDup.buildMinHashIndex]]) under the [[SegmentStore]] LSM
  * lifecycle — the near-dedup analogue of [[StreamingRetrieval]]: corpus
  * documents arrive as a stream of UPSERTS and DELETES, each micro-batch
  * appends one delta-sized signature segment, and the live view feeds
  * [[NearDup.incrementalMinHashDedup]] so arriving deltas are deduped
  * against the corpus AS OF NOW — an updated document matches on its new
  * text only, a deleted document stops claiming dup_of verdicts entirely.
  *
  * This closes the round-6 index contract's one open edge: the persisted
  * index was append-only ("updating or deleting a document requires a
  * compaction pass outside this operator") while the reference's
  * changelog semantics are exactly update/delete-by-key
  * (`KafkaUpsertJob.java:23-38`). Liveness is resolved at probe time
  * (per-id batch maxima + churn-sized delete markers), physically
  * reclaimed at threshold compaction.
  *
  * Scale shape: the index has ONE row per (document, version) — liveness
  * joins ride the same streamed index scan the probe already pays, as
  * churn-sized AQE-broadcast sides; nothing corpus-sized shuffles. The
  * index carries the [[NearDup.SignatureVersion]] stamp per row, and the
  * probe path inherits `incrementalMinHashDedup`'s version guard.
  */
object StreamingDedupIndex {

  private val segSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("band_keys", ArrayType(IntegerType, containsNull = true)),
    StructField("hsh", ArrayType(LongType, containsNull = true)),
    StructField("sig_v", IntegerType),
    StructField("batch", LongType)))

  /** Live signature rows, `batch` included — [[NearDup.buildMinHashIndex]]
    * schema (id, band_keys, hsh, sig_v) + batch.
    */
  def readSegments(spark: SparkSession, indexDir: String): DataFrame =
    SegmentStore.readSegments(spark, indexDir, segSchema)

  /** Live delete markers — schema (id, batch). */
  def readDels(spark: SparkSession, indexDir: String): DataFrame =
    SegmentStore.readDels(spark, indexDir, "id")

  /** The live index view: exactly [[NearDup.buildMinHashIndex]]'s schema
    * over the surviving latest-version corpus — drop-in for
    * [[NearDup.incrementalMinHashDedup]]'s `index` argument.
    */
  def liveIndex(spark: SparkSession, indexDir: String): DataFrame = {
    // one manifest snapshot for both reads (mixed as-of views otherwise)
    val m = SegmentStore.readManifest(indexDir)
    SegmentStore.liveRows(SegmentStore.readSegments(spark, indexDir, segSchema, m),
      SegmentStore.readDels(spark, indexDir, "id", m), "id").drop("batch")
  }

  /** The pinned index view — [[liveIndex]] resolved through a pin
    * ([[SegmentStore.pin]]; the signature store has no frozen parameter,
    * so the plain pin suffices) instead of the live manifest: the exact
    * signature rows of the pinned commit, bit-identical across any later
    * upserts, deletes, and compactions.
    */
  def pinnedIndex(spark: SparkSession, indexDir: String, pinName: String): DataFrame = {
    val p = SegmentStore.readPin(indexDir, pinName)
    SegmentStore.liveRows(SegmentStore.readSegments(spark, indexDir, segSchema, p.manifest),
      SegmentStore.readDels(spark, indexDir, "id", p.manifest), "id").drop("batch")
  }

  /** Near-dedup an arriving delta against the maintained index as of the
    * last committed batch — [[NearDup.incrementalMinHashDedup]] over the
    * live view. Output: (id, dup_of, jac, is_new) per delta document.
    */
  def probe(spark: SparkSession, indexDir: String, delta: DataFrame,
            idCol: String, textCol: String, threshold: Double = 0.7,
            bands: Int = 32, rowsPerBand: Int = 3,
            shingleK: Int = 3): DataFrame =
    NearDup.incrementalMinHashDedup(liveIndex(spark, indexDir), delta,
      idCol, textCol, threshold, bands, rowsPerBand, shingleK)

  /** [[probe]] against a pin: dedup verdicts as-of the pinned corpus — the
    * reproducible-training-run form its retrieval siblings
    * ([[StreamingAnnIndex.ivfTopKPinned]], [[StreamingRetrieval.bm25TopKPinned]])
    * already have, so a run can pin its dedup/decontam decisions to the
    * SAME snapshot its retrieval indexes are pinned to. A document deleted
    * after the pin keeps claiming `dup_of` verdicts in the pinned view
    * while the live view has already stopped matching it. Runs the live
    * probe's plan — the only difference is which manifest resolves the
    * segment set.
    */
  def probePinned(spark: SparkSession, indexDir: String, pinName: String,
                  delta: DataFrame, idCol: String, textCol: String,
                  threshold: Double = 0.7, bands: Int = 32,
                  rowsPerBand: Int = 3, shingleK: Int = 3): DataFrame =
    NearDup.incrementalMinHashDedup(pinnedIndex(spark, indexDir, pinName), delta,
      idCol, textCol, threshold, bands, rowsPerBand, shingleK)

  /** Apply one micro-batch of corpus changes to the index at `indexDir`
    * (`opCol` rows with "d" delete, others upsert; redelivered batches
    * are skipped). Exposed for deterministic batch-at-a-time testing;
    * streams attach via [[attachIndexMaintenance]].
    */
  def processBatch(docs: DataFrame, batchId: Long, indexDir: String,
                   idCol: String = "doc_id", textCol: String = "text",
                   opCol: Option[String] = None,
                   compactSegments: Int = 8,
                   bands: Int = 32, rowsPerBand: Int = 3,
                   shingleK: Int = 3): Unit =
    SegmentStore.processBatch(docs, batchId, indexDir, idCol, "id", opCol,
      compactSegments,
      upserts => SegmentStore.conform(segSchema)(NearDup.buildMinHashIndex(upserts, idCol,
        textCol, bands, rowsPerBand, shingleK)))

  /** Attach index maintenance to a corpus-change stream. */
  def attachIndexMaintenance(docs: DataFrame, indexDir: String, checkpoint: String,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             opCol: Option[String] = None,
                             compactSegments: Int = 8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexDir, idCol, textCol, opCol, compactSegments)
      }
      .start()
}
