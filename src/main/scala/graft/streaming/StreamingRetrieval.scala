package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.scale.Retrieval

/** Streaming maintenance of the BM25 postings index — the retrieval-family
  * analogue of [[StreamingNearDup]]'s online candidate state, with the
  * [[SegmentStore]] LSM lifecycle: documents arrive as a stream of
  * UPSERTS and DELETES, each micro-batch appends one delta-sized postings
  * segment ([[Retrieval.buildBm25Index]] over just the batch), and when
  * the live segment count reaches a threshold the whole set is compacted
  * into one segment with dead rows (superseded document versions, deleted
  * documents) physically dropped. Per-batch write cost is the batch's own
  * vocabulary; segment count — and with it partition-discovery and
  * per-probe overhead — is bounded by the compaction threshold, not by
  * the stream's lifetime.
  *
  * Updates and deletes are visible to the NEXT probe, not only after
  * compaction: every postings row carries the batch that wrote it, and
  * [[bm25TopKLive]] resolves latest-version-wins plus delete markers at
  * probe time — the Lucene live-docs pattern. Compaction merely reclaims
  * the space; it never changes an answer (StreamingRetrievalSpec pins
  * probe equality across a compaction boundary). The delete-marker table
  * holds only EXPLICIT deletes and superseded-version resolution touches
  * only documents with >1 live version — both churn-sized, not
  * corpus-sized. A probe pays the same two corpus passes as
  * [[Retrieval.bm25TopKIndexed]]: the broadcast-reduced candidate
  * semi-join and the column-pruned (doc_id, dl, batch) stats pass.
  */
object StreamingRetrieval {

  private val segSchema = StructType(Seq(
    StructField("token", StringType), StructField("doc_id", LongType),
    StructField("dl", DoubleType), StructField("tf", LongType),
    StructField("batch", LongType)))

  /** Live postings under the committed manifest, batch column included —
    * schema (token, doc_id, dl, tf, batch). Pass to [[liveRows]] /
    * [[bm25TopKLive]] together with [[readDels]].
    */
  def readSegments(spark: SparkSession, indexDir: String): DataFrame =
    SegmentStore.readSegments(spark, indexDir, segSchema)

  /** Live delete markers — schema (doc_id, batch). */
  def readDels(spark: SparkSession, indexDir: String): DataFrame =
    SegmentStore.readDels(spark, indexDir, "doc_id")

  /** Resolve segment rows to the live document set: one postings row per
    * (latest-version doc, token), batch column retained. This is the
    * compaction input/output shape; probes use [[bm25TopKLive]] instead,
    * which reduces by the query tokens BEFORE paying the liveness joins.
    */
  def liveRows(segs: DataFrame, dels: DataFrame): DataFrame =
    SegmentStore.liveRows(segs, dels, "doc_id")

  /** [[Retrieval.bm25TopKIndexed]] over the live view of an upsert/delete
    * index: the same scorer and the same linear no-cache plan, with the
    * liveness joins applied AFTER the broadcast token reduction on the
    * candidate side (churn joins ride candidate-sized rows) and on the
    * column-pruned doc-level pass for N/avgdl. Equals a batch
    * [[Retrieval.bm25TopK]] over the surviving latest-version corpus
    * (StreamingRetrievalSpec pins it through updates, deletes, and a
    * compaction boundary).
    */
  def bm25TopKLive(segs: DataFrame, dels: DataFrame, queries: DataFrame,
                   qIdCol: String, termCol: String,
                   k: Int = 10, maxDfFrac: Double = 1.0): DataFrame = {
    // ONE column-pruned doc-level pass feeds versions, stats, and (via
    // liveFilter) df — the indexed probe's stats scan, liveness-aware.
    // cache() — but ONLY when the segment frame embeds real computation
    // ([[SegmentStore.costlyToRecompute]]): the doc-level table is
    // consumed three times (both liveFilters' version maxima + the stats
    // aggregate), and each consumer re-evaluates the whole segment
    // subtree — for an UNCACHED inline-built segment frame that is the
    // full corpus tokenization per consumer (r14 stage profile: three
    // near-identical postings-build stages per probe). When the segments
    // are an already-cached frame OR plain store files, the derivations
    // are cheap column-pruned scans and the fence measured as a net
    // regression (A/B: q_bm25_upsert 3.89/4.41/5.11 s fenced vs
    // 3.33/3.43/3.72 unfenced; q_bm25_pinned 1.38× normalized in the
    // mid-round sweep when the fence still applied to file scans). The
    // fenced table is one narrow row per (doc, version); derived fresh
    // inside every probe call, so the no-plan-cache re-probe contract (a
    // new probe always reads the current manifest's segments) is
    // untouched.
    val docLevel0 = segs.select("doc_id", "dl", "batch").distinct()
    val docLevel =
      if (SegmentStore.costlyToRecompute(segs)) docLevel0.cache()
      else docLevel0
    val versions = docLevel.select("doc_id", "batch")
    // candidates: broadcast token reduction FIRST, liveness after — the
    // joins against churn-sized multi/delMax touch only candidates
    Retrieval.scoreTopK(segs,
      SegmentStore.liveFilter(docLevel, versions, dels, "doc_id"),
      queries, qIdCol, termCol, "doc_id", k, maxDfFrac,
      live = SegmentStore.liveFilter(_, versions, dels, "doc_id"))
  }

  /** [[bm25TopKLive]] reading a maintained index directory — segments and
    * delete markers from one manifest snapshot (a commit interleaving
    * between separate reads would give a mixed as-of view).
    */
  def bm25TopKLive(spark: SparkSession, indexDir: String, queries: DataFrame,
                   qIdCol: String, termCol: String, k: Int): DataFrame = {
    val m = SegmentStore.readManifest(indexDir)
    bm25TopKLive(SegmentStore.readSegments(spark, indexDir, segSchema, m),
      SegmentStore.readDels(spark, indexDir, "doc_id", m),
      queries, qIdCol, termCol, k)
  }

  /** [[bm25TopKLive]] against a pin ([[SegmentStore.pin]] — the postings
    * store has no frozen parameter, so the plain pin suffices): the exact
    * pinned corpus ranked forever, across later upserts, deletes, and
    * compactions. BM25's corpus statistics (N, avgdl, df) are recomputed
    * from the pinned rows, so scores are as-of too, not just the row set.
    */
  def bm25TopKPinned(spark: SparkSession, indexDir: String, pinName: String,
                     queries: DataFrame, qIdCol: String, termCol: String,
                     k: Int): DataFrame = {
    val p = SegmentStore.readPin(indexDir, pinName)
    bm25TopKLive(SegmentStore.readSegments(spark, indexDir, segSchema, p.manifest),
      SegmentStore.readDels(spark, indexDir, "doc_id", p.manifest),
      queries, qIdCol, termCol, k)
  }

  /** Apply one micro-batch of document changes to the index at `indexDir`.
    * `docs` columns: `idCol`, `textCol`, and optionally `opCol` — rows
    * with op `"d"` are deletes (text ignored), all others upserts; at most
    * one row per doc_id per batch (the upsert-kafka granularity). Batches
    * at or below the manifest's committed id are skipped (redelivery).
    * Exposed for deterministic batch-at-a-time testing; streams attach via
    * [[attachIndexMaintenance]].
    */
  def processBatch(docs: DataFrame, batchId: Long, indexDir: String,
                   idCol: String = "doc_id", textCol: String = "text",
                   opCol: Option[String] = None,
                   compactSegments: Int = 8): Unit =
    SegmentStore.processBatch(docs, batchId, indexDir, idCol, "doc_id", opCol,
      compactSegments,
      upserts => SegmentStore.conform(segSchema)(Retrieval.buildBm25Index(upserts, idCol, textCol)))

  /** Attach index maintenance to a document-change stream. Returns the
    * started query; probe at any batch boundary with [[bm25TopKLive]] (or
    * plain `spark.read.parquet(indexDir)` + [[Retrieval.bm25TopKIndexed]]
    * for an append-only stream). Probes hold nothing in Spark's
    * plan-keyed cache, so re-probing the same query set after new
    * segments land always reads the current committed manifest
    * (StreamingRetrievalSpec pins this).
    */
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
