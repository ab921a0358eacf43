package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{Tables, TestSpark}
import graft.scale.{Chunking, NearDup, Retrieval, Sketches, TextOps}

/** ONE document-change stream feeds every maintained artifact at once —
  * the deployment shape: a single CDC/crawl feed fans out (same
  * micro-batches, independent checkpoints) to the BM25 doc index, the
  * chunk index, the MinHash index, the drift monitor, the corpus
  * sketches, AND (round 11) the self-refreshing chunk-vec index with the
  * drift policy in its loop. After three batches of churn (ingest →
  * truncating updates → deletes), every probe must equal its batch-built
  * oracle over the surviving corpus — the per-artifact equivalence
  * specs, demonstrated to hold simultaneously on one shared stream
  * rather than in isolation — and the policy must NOT have fired (every
  * batch draws from the same distribution).
  */
class CompositeStreamSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.01"

  /** Deterministic stand-in for a passage embedder: a 4-dim vector hashed
    * from the chunk text — identical on the stream side and in the batch
    * oracle, non-degenerate geometry.
    */
  private def fakeVec(chunk: org.apache.spark.sql.Column) =
    array((0 to 3).map(i =>
      pmod(xxhash64(chunk, lit(i)), lit(1000)).cast("double") / 1000.0): _*)

  test("one stream, six artifacts: every probe equals its batch oracle") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") < 300) // keep six parallel pipelines quick
    val shortened = array_join(slice(split(col("text"), " "), 1, 40), " ")

    def tmp(p: String) = Files.createTempDirectory(p).toString
    val (bm25Dir, chunkDir, mhDir, monDir, skDir, vecDir) =
      (tmp("cs-bm25"), tmp("cs-chunk"), tmp("cs-mh"), tmp("cs-mon"),
        tmp("cs-sk"), tmp("cs-vec"))

    val baseline = CorpusMonitor.profile(docs, "text")
    val centroids = Seq(
      (0L, Seq(0.9, 0.1, 0.1, 0.1)), (1L, Seq(0.1, 0.9, 0.1, 0.1)),
      (2L, Seq(0.1, 0.1, 0.9, 0.1)), (3L, Seq(0.1, 0.1, 0.1, 0.9)))
      .toDF("vec_id", "embedding")
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val feed = input.toDS().toDF("doc_id", "text", "op")
    val upsertsOnly = feed.filter(col("op") =!= "d")
    // the chunk-vec leg derives (ck, embedding) from the SAME feed: "u"
    // rows chunk and embed (map-only, streaming-safe); "d" rows pass
    // through as doc-level deletes (payload ignored by the store)
    val vfeed = Chunking.chunkDocuments(upsertsOnly.select("doc_id", "text"),
        "doc_id", "text", 32, 16)
      .select(col("doc_id"),
        Chunking.chunkKey(col("doc_id"), col("chunk_id")).as("ck"),
        fakeVec(col("chunk")).as("embedding"), lit("u").as("op"))
      .unionByName(feed.filter(col("op") === "d")
        .select(col("doc_id"), lit(-1L).as("ck"),
          fakeVec(col("text")).as("embedding"), lit("d").as("op")))
    val queries = Seq(
      StreamingRetrieval.attachIndexMaintenance(feed, bm25Dir, tmp("ck1"),
        opCol = Some("op")),
      StreamingChunkIndex.attachIndexMaintenance(feed, chunkDir, tmp("ck2"),
        window = 32, stride = 16, opCol = Some("op")),
      StreamingDedupIndex.attachIndexMaintenance(feed, mhDir, tmp("ck3"),
        opCol = Some("op")),
      CorpusMonitor.attachMonitor(upsertsOnly, monDir, tmp("ck4"), baseline),
      StreamingSketch.attachSketch(upsertsOnly, skDir, tmp("ck5")),
      StreamingChunkIndex.attachVecIndexMaintenanceWithPolicy(vfeed, vecDir,
        tmp("ck6"), centroids,
        StreamingAnnIndex.RefreshPolicy(z = 3.0, minBatchRows = 3),
        opCol = Some("op")))

    def sendAll(rows: DataFrame): Unit = {
      input.addData(rows.select("doc_id", "text", "op")
        .as[(Long, String, String)].collect().toSeq: _*)
      queries.foreach(_.processAllAvailable())
    }

    try {
      sendAll(docs.withColumn("op", lit("u")))
      sendAll(docs.filter(col("doc_id") % 23 === 0)
        .select(col("doc_id"), shortened.as("text"), lit("u").as("op")))
      sendAll(docs.filter(col("doc_id") % 31 === 0)
        .select(col("doc_id"), col("text"), lit("d").as("op")))
    } finally queries.foreach(_.stop())

    // the surviving latest-version corpus every index must agree with
    val survivors = docs
      .select(col("doc_id"),
        when(col("doc_id") % 23 === 0, shortened).otherwise(col("text")).as("text"))
      .filter(col("doc_id") % 31 =!= 0)
    val probes = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(split(col("text"), " "), 5, 4))).as("term"))

    // 1. BM25 doc index
    StreamingRetrieval.bm25TopKLive(spark, bm25Dir, probes, "q_id", "term", k = 5)
      .select("q_id", "rank", "doc_id", "score").collect().toSet shouldBe
      Retrieval.bm25TopK(survivors, "doc_id", "text", probes, "q_id", "term", k = 5)
        .select("q_id", "rank", "doc_id", "score").collect().toSet

    // 2. chunk index (passage retrieval)
    val chunks = Chunking.chunkDocuments(survivors, "doc_id", "text", 32, 16)
      .select(Chunking.chunkKey(col("doc_id"), col("chunk_id")).as("ck"), col("chunk"))
    StreamingChunkIndex.chunkTopKLiveDocs(spark, chunkDir, probes, "q_id", "term",
      kChunks = 20, kDocs = 5)
      .select("q_id", "rank", "doc_id", "score").collect().toSet shouldBe
      Chunking.chunkHitsToDocs(
        Retrieval.bm25TopK(chunks, "ck", "chunk", probes, "q_id", "term", k = 20), 5)
        .select("q_id", "rank", "doc_id", "score").collect().toSet

    // 3. MinHash index: a delta probe sees exactly the batch-built index
    val delta = survivors.limit(5)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    StreamingDedupIndex.probe(spark, mhDir, delta, "doc_id", "text")
      .select("id", "dup_of", "is_new").collect().toSet shouldBe
      NearDup.incrementalMinHashDedup(
        NearDup.buildMinHashIndex(survivors, "doc_id", "text"), delta,
        "doc_id", "text")
        .select("id", "dup_of", "is_new").collect().toSet

    // 4. monitor: three per-batch rows, none drifted (slices of the
    // baseline corpus)
    val log = CorpusMonitor.readLog(spark, monDir)
    log.count() shouldBe 2L // the delete-only batch had no upsert rows... see below
    log.filter(col("drift")).count() shouldBe 0L

    // 5. sketches: state ≡ batch build over every UPSERT text the stream
    // carried (the sketch sees the stream, not the liveness resolution)
    val streamedToks = docs.select("text")
      .unionByName(docs.filter(col("doc_id") % 23 === 0).select(shortened.as("text")))
      .select(explode(TextOps.tokens(col("text"))).as("token"))
    StreamingSketch.readKmv(spark, skDir).select("kmv").as[Seq[Long]].head() shouldBe
      Sketches.kmvDistinct(streamedToks, Nil, "token", 64)
        .select("kmv").as[Seq[Long]].head()

    // 6. chunk-vec index with the drift policy in the loop: the policy
    // stayed quiet (every batch draws from one hash-uniform distribution
    // — a fire here would be noise), and the semantic probe equals a
    // fresh batch assignment of the surviving corpus's chunk vectors
    SegmentStore.readManifest(vecDir).param shouldBe None
    val survivorVecs = Chunking.chunkDocuments(survivors, "doc_id", "text", 32, 16)
      .select(Chunking.chunkKey(col("doc_id"), col("chunk_id")).as("ck"),
        fakeVec(col("chunk")).as("embedding"))
    val vqueries = Seq(
      (900001L, Seq(0.8, 0.2, 0.3, 0.1)), (900002L, Seq(0.1, 0.2, 0.8, 0.7)))
      .toDF("vec_id", "embedding")
    StreamingChunkIndex.ivfChunkHitsLive(spark, vecDir, vqueries,
      kChunks = 5, nprobe = 2)
      .select("q_id", "rank", "doc_id", "cos").collect().toSet shouldBe
      graft.scale.Similarity.ivfTopKIndexed(
        StreamingChunkIndex.buildChunkVecSegment(survivorVecs, centroids),
        centroids, vqueries, k = 5, nprobe = 2, excludeSelf = false)
        .withColumnRenamed("neighbor_id", "doc_id")
        .select("q_id", "rank", "doc_id", "cos").collect().toSet
  }
}
