package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, StructField, StructType}

import graft.scale.{Chunking, Retrieval, Similarity}

/** Streaming maintenance of a CHUNK-granular BM25 index — passage
  * retrieval ([[Chunking]] × [[StreamingRetrieval]]) under the
  * [[SegmentStore]] LSM lifecycle, with one structural twist that makes
  * document updates sound: segment rows are chunk-level postings
  * (token, ck, dl, tf) keyed by [[Chunking.chunkKey]], but LIVENESS is
  * resolved per DOCUMENT (`doc_id`, derived from the key). A chunk-keyed
  * upsert contract would be wrong here — a re-sent document may chunk
  * into FEWER windows than its previous version, and nothing would ever
  * supersede the tail keys (v1's chunk 7 outlives a 3-chunk v2, returning
  * text the document no longer contains). Doc-level latest-wins kills
  * every old-version chunk row at once, whatever the new chunk count;
  * delete markers are per-document for the same reason.
  *
  * Probes score chunks ([[Retrieval.bm25TopK]] arithmetic — chunk-level
  * dl, N = live chunk count, df over live candidate chunks) and roll up
  * to documents via [[Chunking.chunkHitsToDocs]]: a document ranks as its
  * best passage. Per-batch write cost is the batch's own chunk
  * vocabulary; all liveness joins ride candidate- or churn-sized rows,
  * exactly as in [[StreamingRetrieval.bm25TopKLive]].
  */
object StreamingChunkIndex {

  private val segSchema = StructType(Seq(
    StructField("token", StringType), StructField("ck", LongType),
    StructField("doc_id", LongType), StructField("dl", DoubleType),
    StructField("tf", LongType), StructField("batch", LongType)))

  /** Live chunk postings under the committed manifest — schema
    * (token, ck, doc_id, dl, tf, batch).
    */
  def readSegments(spark: SparkSession, indexDir: String): DataFrame =
    SegmentStore.readSegments(spark, indexDir, segSchema)

  /** Live delete markers — schema (doc_id, batch): documents, not chunks. */
  def readDels(spark: SparkSession, indexDir: String): DataFrame =
    SegmentStore.readDels(spark, indexDir, "doc_id")

  /** One batch of documents → one chunk-postings segment: chunk, index
    * with the chunk key as the BM25 "document", then recover `doc_id`
    * from the key for doc-level liveness. Shared by [[processBatch]] and
    * batch-composed callers.
    */
  def buildChunkSegment(docs: DataFrame, idCol: String, textCol: String,
                        window: Int, stride: Int): DataFrame = {
    val chunks = Chunking.chunkDocuments(docs.select(idCol, textCol),
        idCol, textCol, window, stride)
      .select(Chunking.chunkKey(col(idCol).cast(LongType), col("chunk_id")).as("ck"),
        col("chunk"))
    Retrieval.buildBm25Index(chunks, "ck", "chunk")
      .withColumnRenamed("doc_id", "ck")
      .withColumn("doc_id", Chunking.chunkKeyDoc(col("ck")))
  }

  /** Chunk-level BM25 hits over the live view — (q_id, doc_id, score,
    * rank) where `doc_id` holds [[Chunking.chunkKey]]s, top `kChunks` per
    * query. The passage-granular half shared by [[chunkTopKLiveDocs]]
    * (direct rollup) and [[fusedTopKLiveDocs]] (RRF with the semantic
    * list BEFORE any rollup).
    */
  def chunkHitsLive(segs: DataFrame, dels: DataFrame, queries: DataFrame,
                    qIdCol: String, termCol: String,
                    kChunks: Int = 20,
                    maxDfFrac: Double = 1.0): DataFrame = {
    // ONE column-pruned chunk-level pass feeds versions and stats; the
    // version table is per DOCUMENT (see class doc). cache() — only when
    // the segment frame embeds real computation
    // ([[SegmentStore.costlyToRecompute]]): consumed three times (both
    // liveFilters' version maxima + the stats aggregate) — uncached, each
    // consumer re-evaluates the whole chunk segment subtree (for inline
    // builds, the full chunk explode + postings build per consumer); for
    // an already-cached frame or plain store files the derivations are
    // cheap column-pruned scans and the fence measured as a net
    // regression (see StreamingRetrieval.bm25TopKLive). One narrow row
    // per live (doc, chunk, version); derived fresh per probe call, so
    // re-probes still read the current manifest.
    val chunkLevel0 = segs.select("doc_id", "ck", "dl", "batch").distinct()
    val chunkLevel =
      if (SegmentStore.costlyToRecompute(segs)) chunkLevel0.cache()
      else chunkLevel0
    val versions = chunkLevel.select("doc_id", "batch").distinct()
    // candidates: broadcast token reduction FIRST, doc-level liveness
    // after — churn joins touch only candidate chunks
    Retrieval.scoreTopK(segs,
      SegmentStore.liveFilter(chunkLevel, versions, dels, "doc_id"),
      queries, qIdCol, termCol, "ck", kChunks, maxDfFrac,
      live = SegmentStore.liveFilter(_, versions, dels, "doc_id"))
      .withColumnRenamed("ck", "doc_id")
  }

  /** Chunk-scored, document-ranked probe over the live view: each probe
    * query retrieves its `kChunks` best live chunks, then documents rank
    * as their best chunk ([[Chunking.chunkHitsToDocs]]) — top `kDocs` per
    * query, output (q_id, doc_id, best_chunk, score, rank). Equals the
    * batch pipeline (chunk the surviving latest-version corpus →
    * [[Retrieval.bm25TopK]] over chunk keys → rollup); the spec pins it
    * through a chunk-count-shrinking update, a delete, and a compaction.
    */
  def chunkTopKLiveDocs(segs: DataFrame, dels: DataFrame, queries: DataFrame,
                        qIdCol: String, termCol: String,
                        kChunks: Int = 20, kDocs: Int = 10,
                        maxDfFrac: Double = 1.0): DataFrame =
    Chunking.chunkHitsToDocs(
      chunkHitsLive(segs, dels, queries, qIdCol, termCol, kChunks, maxDfFrac),
      kDocs)

  /** [[chunkTopKLiveDocs]] reading a maintained index directory —
    * segments and delete markers from one manifest snapshot (a commit
    * interleaving between separate reads would give a mixed as-of view).
    */
  def chunkTopKLiveDocs(spark: SparkSession, indexDir: String, queries: DataFrame,
                        qIdCol: String, termCol: String,
                        kChunks: Int, kDocs: Int): DataFrame = {
    val m = SegmentStore.readManifest(indexDir)
    chunkTopKLiveDocs(SegmentStore.readSegments(spark, indexDir, segSchema, m),
      SegmentStore.readDels(spark, indexDir, "doc_id", m),
      queries, qIdCol, termCol, kChunks, kDocs)
  }

  // --------------------------------------------------------------------
  // The SEMANTIC half: chunk embeddings in the IVF family, keyed by
  // chunkKey but — like the postings — live at DOCUMENT granularity. A
  // chunk-keyed vector upsert would leave the same phantom-passage tail
  // the class doc describes (a re-embedded 3-chunk v2 never supersedes
  // v1's chunk 7); doc-level latest-wins kills every old-version chunk
  // vector at once. Segment rows are (vec_id=chunkKey, bucket, vec,
  // norm, doc_id, batch). Maintenance is StreamingAnnIndex's IVF
  // lifecycle run with `vecLayout`.
  // --------------------------------------------------------------------

  private val vecSegSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("bucket", LongType),
    StructField("vec", ArrayType(DoubleType, containsNull = true)),
    StructField("norm", DoubleType), StructField("doc_id", LongType),
    StructField("batch", LongType)))

  /** The chunk-vec store's IVF layout: liveness by `doc_id`, which every
    * segment row carries, derived from its chunk key.
    */
  private[streaming] val vecLayout = StreamingAnnIndex.Layout(vecSegSchema, "doc_id",
    _.withColumn("doc_id", Chunking.chunkKeyDoc(col("vec_id"))))

  /** A chunk-embedding batch in the lifecycle's naming: (vec_id = chunk
    * key, embedding), plus the doc id and op columns when deletes can occur.
    */
  private def vecInput(chunkVecs: DataFrame, ckCol: String, vecCol: String,
                       idCol: String, opCol: Option[String]): DataFrame =
    StreamingAnnIndex.asCore(chunkVecs, ckCol, vecCol,
      opCol.toSeq.flatMap(o => Seq(col(idCol).as("doc_id"), col(o))): _*)

  /** One batch of chunk embeddings (rows of (`ckCol` = [[Chunking.chunkKey]],
    * `vecCol`)) → one IVF assignment segment with `doc_id` denormalized
    * onto every row for doc-level liveness. One broadcast-centroid pass
    * over just the batch, exactly [[StreamingAnnIndex]]'s write cost.
    */
  def buildChunkVecSegment(chunkVecs: DataFrame, centroids: DataFrame,
                           ckCol: String = "ck",
                           vecCol: String = "embedding"): DataFrame =
    vecLayout.derive(Similarity.assignBuckets(
      StreamingAnnIndex.asCore(chunkVecs, ckCol, vecCol), centroids))

  /** Live chunk-vector segments of a maintained vector index dir. */
  def readVecSegments(spark: SparkSession, indexDir: String): DataFrame =
    SegmentStore.readSegments(spark, indexDir, vecSegSchema)

  /** Semantic chunk hits over the live view — (q_id, doc_id, cos, rank)
    * with `doc_id` holding chunk keys, top `kChunks` per query: the
    * liveness predicates (per-DOCUMENT batch maxima + churn-sized delete
    * markers) ride the streamed index scan, then
    * [[Similarity.ivfTopKIndexed]] routes each query to its `nprobe`
    * buckets — the index is scanned, never shuffled.
    */
  def ivfChunkHitsLive(segs: DataFrame, dels: DataFrame, centroids: DataFrame,
                       queries: DataFrame, kChunks: Int = 20,
                       nprobe: Int = 1): DataFrame = {
    val versions = segs.select("doc_id", "batch").distinct()
    val live = SegmentStore.liveFilter(segs, versions, dels, "doc_id")
    // excludeSelf OFF: query ids are document-level, index ids are chunk
    // keys — two different id spaces, so the self-match rule would only
    // ever fire on accidental collisions (q_id N hiding doc N>>20's
    // chunk N&0xFFFFF), never on a real self-match
    Similarity.ivfTopKIndexed(live.drop("batch", "doc_id"), centroids,
        queries, kChunks, nprobe, excludeSelf = false)
      .withColumnRenamed("neighbor_id", "doc_id")
  }

  /** [[ivfChunkHitsLive]] reading a maintained chunk-vec index directory
    * — segments, delete markers, and centroids from ONE manifest
    * snapshot (the [[StreamingAnnIndex.ivfTopKLive]] coherence rule).
    * With the drift policy in the loop this is the probe form to use: a
    * centroid frame captured at attach time silently routes with a
    * superseded generation after the first automatic refresh, and even
    * per-probe `readCentroids` can interleave with a refresh commit
    * between the segment read and the centroid read.
    */
  def ivfChunkHitsLive(spark: SparkSession, indexDir: String,
                       queries: DataFrame, kChunks: Int,
                       nprobe: Int): DataFrame = {
    val m = SegmentStore.readManifest(indexDir)
    ivfChunkHitsLive(SegmentStore.readSegments(spark, indexDir, vecSegSchema, m),
      SegmentStore.readDels(spark, indexDir, "doc_id", m),
      StreamingAnnIndex.readCentroids(spark, indexDir, m),
      queries, kChunks, nprobe)
  }

  /** The chunk-granular HYBRID probe: lexical chunk BM25 hits
    * ([[chunkHitsLive]]) and semantic chunk ANN hits ([[ivfChunkHitsLive]])
    * over two live indexes of the same mutating corpus, reciprocal-rank
    * fused WHILE STILL PASSAGES and only then rolled up to documents
    * ([[Chunking.fuseChunkRankings]]). Output: (q_id, doc_id, best_chunk,
    * rrf, rank), top `kDocs` per query. Every stage past the two probes
    * is candidate-sized. Callers composing these explicit frames own
    * snapshot coherence (see the dir overload below); `centroids` must
    * be the generation the vec segments were assigned with.
    */
  def fusedTopKLiveDocs(lexSegs: DataFrame, lexDels: DataFrame,
                        vecSegs: DataFrame, vecDels: DataFrame,
                        centroids: DataFrame,
                        termQueries: DataFrame, qIdCol: String, termCol: String,
                        vecQueries: DataFrame,
                        kChunks: Int = 20, kDocs: Int = 10,
                        nprobe: Int = 1, k0: Int = 60): DataFrame = {
    val lex = chunkHitsLive(lexSegs, lexDels, termQueries, qIdCol, termCol, kChunks)
    val sem = ivfChunkHitsLive(vecSegs, vecDels, centroids, vecQueries,
      kChunks, nprobe)
    Chunking.fuseChunkRankings(Seq(lex, sem), kDocs, kChunks, k0)
  }

  /** [[fusedTopKLiveDocs]] reading two maintained index directories (the
    * lexical chunk store and the chunk-vec store), each leg pinned to one
    * manifest snapshot — the probe form for deployments running the
    * drift policy, where the vec store's centroid generation can move
    * between micro-batches.
    */
  def fusedTopKLiveDocs(spark: SparkSession, lexDir: String, vecDir: String,
                        termQueries: DataFrame, qIdCol: String, termCol: String,
                        vecQueries: DataFrame,
                        kChunks: Int, kDocs: Int,
                        nprobe: Int, k0: Int): DataFrame = {
    val lm = SegmentStore.readManifest(lexDir)
    val vm = SegmentStore.readManifest(vecDir)
    fusedTopKLiveDocs(
      SegmentStore.readSegments(spark, lexDir, segSchema, lm),
      SegmentStore.readDels(spark, lexDir, "doc_id", lm),
      SegmentStore.readSegments(spark, vecDir, vecSegSchema, vm),
      SegmentStore.readDels(spark, vecDir, "doc_id", vm),
      StreamingAnnIndex.readCentroids(spark, vecDir, vm),
      termQueries, qIdCol, termCol, vecQueries, kChunks, kDocs, nprobe, k0)
  }

  /** Pin BOTH legs of the hybrid chunk index under one name — the lexical
    * postings and the chunk-vec store (with its frozen centroid
    * generation) — so [[fusedTopKPinnedDocs]] replays this exact
    * retrieval state forever. Take the pin from the thread that owns both
    * stores' commits (the composite foreachBatch), between batches, so
    * the two legs reference the same corpus state. If the vec-side pin
    * fails the lexical pin is rolled back; a crash BETWEEN the two pins
    * (where no rollback could run) leaves a durable single-leg orphan
    * that later attempts report loudly — the store cannot distinguish
    * it from a deliberate store-level pin someone took under the same
    * name, and silently releasing a real pin would break its
    * reproducibility promise. Pass `repairOrphan = true` once you've
    * confirmed the half-pair IS a crashed attempt: the surviving half is
    * released and both legs re-pin from the current commits.
    */
  def pinIndex(lexDir: String, vecDir: String, name: String,
               repairOrphan: Boolean = false): Unit = {
    val lexHas = SegmentStore.listPins(lexDir).contains(name)
    val vecHas = SegmentStore.listPins(vecDir).contains(name)
    if (lexHas && vecHas)
      throw new IllegalArgumentException(
        s"pin '$name' already exists on both legs (unpinIndex first)")
    if (lexHas != vecHas) {
      if (!repairOrphan)
        throw new IllegalArgumentException(
          s"pin '$name' exists on ${if (lexHas) "only the lexical" else "only the vec"} " +
            "leg — either a crashed pinIndex attempt or a deliberate " +
            "store-level pin under the same name. Confirm which, then " +
            "retry with repairOrphan = true (releases the survivor and " +
            "re-pins both legs from the CURRENT commits) or unpin it.")
      SegmentStore.unpin(lexDir, name)
      SegmentStore.unpin(vecDir, name)
    }
    SegmentStore.pin(lexDir, name)
    try {
      val vm = SegmentStore.readManifest(vecDir)
      SegmentStore.pin(vecDir, name, Seq(StreamingAnnIndex.centroidsDir(vm)))
    } catch { case t: Throwable => SegmentStore.unpin(lexDir, name); throw t }
  }

  /** Release both legs' pins (idempotent, like [[SegmentStore.unpin]]). */
  def unpinIndex(lexDir: String, vecDir: String, name: String): Unit = {
    SegmentStore.unpin(lexDir, name)
    SegmentStore.unpin(vecDir, name)
  }

  /** [[fusedTopKLiveDocs]] against a pinned pair (see [[pinIndex]]): both
    * legs, the RRF fusion, and the vec leg's routing centroids all
    * resolve from the pinned commits — bit-identical retrieval no matter
    * what the live stream (or its drift policy) has done since.
    */
  def fusedTopKPinnedDocs(spark: SparkSession, lexDir: String, vecDir: String,
                          pinName: String,
                          termQueries: DataFrame, qIdCol: String, termCol: String,
                          vecQueries: DataFrame,
                          kChunks: Int, kDocs: Int,
                          nprobe: Int, k0: Int): DataFrame = {
    val lp = SegmentStore.readPin(lexDir, pinName)
    val vp = SegmentStore.readPin(vecDir, pinName)
    fusedTopKLiveDocs(
      SegmentStore.readSegments(spark, lexDir, segSchema, lp.manifest),
      SegmentStore.readDels(spark, lexDir, "doc_id", lp.manifest),
      SegmentStore.readSegments(spark, vecDir, vecSegSchema, vp.manifest),
      SegmentStore.readDels(spark, vecDir, "doc_id", vp.manifest),
      StreamingAnnIndex.readCentroids(spark, vecDir, vp.manifest),
      termQueries, qIdCol, termCol, vecQueries, kChunks, kDocs, nprobe, k0)
  }

  /** Apply one micro-batch of chunk-embedding changes to the vector index
    * at `indexDir` — doc-level contract: an `opCol` "d" row deletes the
    * DOCUMENT (all its chunk vectors; `idCol` names the DOC id on delete
    * rows), an upsert row carries one chunk ([[Chunking.chunkKey]] in
    * `ckCol`) and the batch's chunks replace ALL the document's previous
    * chunk vectors whatever the new chunk count. Redelivered batches are
    * skipped. At most one version of a document per batch (the upsert
    * granularity of the store). Centroids freeze at the first commit and
    * resolve through the generation pointer afterwards, as in
    * [[StreamingAnnIndex.processBatch]]; read them with
    * [[StreamingAnnIndex.readCentroids]].
    */
  def processVecBatch(chunkVecs: DataFrame, batchId: Long, indexDir: String,
                      centroids: DataFrame,
                      ckCol: String = "ck", vecCol: String = "embedding",
                      idCol: String = "doc_id",
                      opCol: Option[String] = None,
                      compactSegments: Int = 8): Unit =
    StreamingAnnIndex.processBatch(vecLayout, vecInput(chunkVecs, ckCol, vecCol, idCol, opCol),
      batchId, indexDir, centroids, opCol, compactSegments)

  /** [[processVecBatch]] with the drift policy closed-loop: commit the
    * batch, judge its upserts, re-center when they drifted — the
    * [[StreamingAnnIndex.processBatchWithPolicy]] contract at chunk
    * granularity, where a refresh's rewrite keeps doc-level liveness. A
    * redelivered batch is skipped entirely and re-judges nothing. Returns
    * the refreshed centroids when the batch fired.
    */
  def processVecBatchWithPolicy(chunkVecs: DataFrame, batchId: Long,
                                indexDir: String, centroids: DataFrame,
                                policy: StreamingAnnIndex.RefreshPolicy =
                                  StreamingAnnIndex.RefreshPolicy(),
                                ckCol: String = "ck", vecCol: String = "embedding",
                                idCol: String = "doc_id",
                                opCol: Option[String] = None,
                                compactSegments: Int = 8): Option[DataFrame] =
    StreamingAnnIndex.processBatchWithPolicy(vecLayout,
      vecInput(chunkVecs, ckCol, vecCol, idCol, opCol),
      batchId, indexDir, centroids, policy, opCol, compactSegments)

  /** Attach chunk-vector index maintenance with the drift-refresh policy
    * in the loop: every micro-batch is committed, judged, and — when it
    * drifted — the passage index re-centers itself before the next batch.
    */
  def attachVecIndexMaintenanceWithPolicy(chunkVecs: DataFrame, indexDir: String,
                                          checkpoint: String, centroids: DataFrame,
                                          policy: StreamingAnnIndex.RefreshPolicy =
                                            StreamingAnnIndex.RefreshPolicy(),
                                          ckCol: String = "ck",
                                          vecCol: String = "embedding",
                                          idCol: String = "doc_id",
                                          opCol: Option[String] = None,
                                          compactSegments: Int = 8): StreamingQuery =
    StreamingAnnIndex.attach(chunkVecs, checkpoint)(processVecBatchWithPolicy(_, _,
      indexDir, centroids, policy, ckCol, vecCol, idCol, opCol, compactSegments))

  /** Apply one micro-batch of document changes to the index at `indexDir`
    * (`opCol` rows with "d" delete the DOCUMENT — all its chunks; others
    * upsert, replacing all previous chunks whatever the new chunk count).
    * Redelivered batches are skipped.
    */
  def processBatch(docs: DataFrame, batchId: Long, indexDir: String,
                   window: Int, stride: Int,
                   idCol: String = "doc_id", textCol: String = "text",
                   opCol: Option[String] = None,
                   compactSegments: Int = 8): Unit =
    SegmentStore.processBatch(docs, batchId, indexDir, idCol, "doc_id", opCol,
      compactSegments,
      upserts => buildChunkSegment(upserts, idCol, textCol, window, stride))

  /** Attach index maintenance to a document-change stream. */
  def attachIndexMaintenance(docs: DataFrame, indexDir: String, checkpoint: String,
                             window: Int, stride: Int,
                             idCol: String = "doc_id", textCol: String = "text",
                             opCol: Option[String] = None,
                             compactSegments: Int = 8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexDir, window, stride, idCol, textCol,
          opCol, compactSegments)
      }
      .start()
}
