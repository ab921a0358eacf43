package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{Tables, TestSpark}
import graft.scale.{Chunking, Retrieval}

/** The stream-maintained chunk index must probe exactly like the batch
  * pipeline (chunk the surviving latest-version corpus → chunk-keyed
  * [[Retrieval.bm25TopK]] → [[Chunking.chunkHitsToDocs]]) — including the
  * case a chunk-keyed upsert contract gets wrong: a document re-sent with
  * SHORTER text chunks into fewer windows, and its old tail chunks must
  * die with the version, not linger as phantom passages.
  */
class StreamingChunkIndexSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.01"

  private def result(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), (Long, Long, Double)] =
    df.select("q_id", "rank", "doc_id", "best_chunk", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap

  test("streamed ≡ batch chunk retrieval through shrinking update, delete, compaction") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val probes = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(split(col("text"), " "), 5, 4))).as("term"))
    val indexDir = Files.createTempDirectory("graft-chunk-lsm").toString

    def send(b: Long, rows: org.apache.spark.sql.DataFrame): Unit =
      StreamingChunkIndex.processBatch(rows, b, indexDir, window = 32, stride = 16,
        opCol = Some("op"), compactSegments = 3)
    def probe() = result(StreamingChunkIndex.chunkTopKLiveDocs(spark, indexDir,
      probes, "q_id", "term", kChunks = 20, kDocs = 5))
    def batchPipeline(corpus: org.apache.spark.sql.DataFrame) = {
      val chunks = Chunking.chunkDocuments(corpus, "doc_id", "text", 32, 16)
        .select(Chunking.chunkKey(col("doc_id"), col("chunk_id")).as("ck"), col("chunk"))
      result(Chunking.chunkHitsToDocs(
        Retrieval.bm25TopK(chunks, "ck", "chunk", probes, "q_id", "term", k = 20), 5))
    }

    // batch 0: the whole corpus
    send(0, docs.withColumn("op", lit("u")))
    probe() shouldBe batchPipeline(docs)

    // batch 1: every %23 doc re-sent TRUNCATED to its first 40 tokens —
    // it chunks into 2 windows where the original had more; the original's
    // tail chunks must die with the superseded version
    val shortened = array_join(slice(split(col("text"), " "), 1, 40), " ")
    send(1, docs.filter(col("doc_id") % 23 === 0)
      .select(col("doc_id"), shortened.as("text"), lit("u").as("op")))
    val afterUpdate = docs.select(col("doc_id"),
      when(col("doc_id") % 23 === 0, shortened).otherwise(col("text")).as("text"))
    probe() shouldBe batchPipeline(afterUpdate)
    // no phantom passage: the max live chunk_id of an updated doc fits the
    // 40-token truncation (2 windows → ids 0 and 1)
    val live = SegmentStore.liveRows(
      StreamingChunkIndex.readSegments(spark, indexDir),
      StreamingChunkIndex.readDels(spark, indexDir), "doc_id")
    live.filter(col("doc_id") % 23 === 0)
      .select(max(Chunking.chunkKeyChunk(col("ck")))).as[Long].head() should be <= 1L

    // batch 2: every %31 doc deleted — marker tips segs+dels over the
    // threshold, compaction reclaims superseded versions physically
    send(2, docs.filter(col("doc_id") % 31 === 0)
      .select(col("doc_id"), lit("").as("text"), lit("d").as("op")))
    SegmentStore.readManifest(indexDir).segs shouldBe Seq("seg=c2")
    val survivors = afterUpdate.filter(col("doc_id") % 31 =!= 0)
    probe() shouldBe batchPipeline(survivors)

    // redelivered batch: committed id skips it, the answer is unchanged
    send(2, docs.limit(3).select(col("doc_id"), col("text"), lit("u").as("op")))
    SegmentStore.readManifest(indexDir).lastBatch shouldBe 2L
    probe() shouldBe batchPipeline(survivors)
  }

  test("chunk-level fusion beats doc-level fusion where it should, and the vec side kills phantom passages") {
    // hand-checkable fixture: doc 1's passage c1 carries BOTH signals
    // (lex rank 2 on 'zebra', sem rank 2 on the query vector); doc 2
    // splits its evidence across two passages (c0 lex rank 1, c1 sem
    // rank 1). Fused at CHUNK level doc 1 wins (1/62+1/62 > 1/61+1/64);
    // fused after a per-system DOC rollup doc 2 wins (2/61 > 2/62) — the
    // ordering difference passage-granular fusion exists for.
    val lexDir = Files.createTempDirectory("graft-fused-lex").toString
    val vecDir = Files.createTempDirectory("graft-fused-vec").toString
    val docs0 = Seq(
      (1L, "filler filler filler filler zebra apple pear plum"),
      (2L, "zebra zebra apple apple cat cat cat cat"))
      .toDF("doc_id", "text").withColumn("op", lit("u"))
    // chunk embeddings as an external passage embedder would supply them
    val vecs0 = Seq(
      (1L, Chunking.key(1L, 0), Seq(0.0, 1.0)),
      (1L, Chunking.key(1L, 1), Seq(0.995, 0.1)),
      (2L, Chunking.key(2L, 0), Seq(0.0, 1.0)),
      (2L, Chunking.key(2L, 1), Seq(1.0, 0.0)))
      .toDF("doc_id", "ck", "embedding").withColumn("op", lit("u"))
    val centroids = Seq((0L, Seq(1.0, 1.0))).toDF("vec_id", "embedding")
    StreamingChunkIndex.processBatch(docs0, 0, lexDir, window = 4, stride = 4,
      opCol = Some("op"))
    StreamingChunkIndex.processVecBatch(vecs0, 0, vecDir, centroids,
      opCol = Some("op"))

    val probes = Seq((500L, "zebra")).toDF("q_id", "term")
    val vqueries = Seq((500L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    def fusedLive() = StreamingChunkIndex.fusedTopKLiveDocs(
      StreamingChunkIndex.readSegments(spark, lexDir),
      StreamingChunkIndex.readDels(spark, lexDir),
      StreamingChunkIndex.readVecSegments(spark, vecDir),
      SegmentStore.readDels(spark, vecDir, "doc_id"),
      centroids, probes, "q_id", "term", vqueries, kChunks = 20, kDocs = 2)

    val fused = fusedLive().select("rank", "doc_id", "best_chunk")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    fused(1) shouldBe ((1L, 1L)) // the both-signals passage wins
    fused(2)._1 shouldBe 2L

    // the doc-level alternative (fuse AFTER each system's rollup) flips
    // the order — doc 2's two different passages outvote doc 1
    val lexDocs = Chunking.chunkHitsToDocs(StreamingChunkIndex.chunkHitsLive(
      StreamingChunkIndex.readSegments(spark, lexDir),
      StreamingChunkIndex.readDels(spark, lexDir),
      probes, "q_id", "term", kChunks = 20), 2)
    val semDocs = Chunking.chunkHitsToDocs(StreamingChunkIndex.ivfChunkHitsLive(
      StreamingChunkIndex.readVecSegments(spark, vecDir),
      SegmentStore.readDels(spark, vecDir, "doc_id"),
      centroids, vqueries, kChunks = 20)
      .withColumnRenamed("cos", "score"), 2)
    val docLevel = Retrieval.rrfFuse(Seq(lexDocs, semDocs), k = 2)
      .filter(col("rank") === 1).select("doc_id").as[Long].head()
    docLevel shouldBe 2L

    // doc 2 re-sent with ONE chunk (text and vector both): its old c1 —
    // the sem-rank-1 passage — must die in BOTH modalities with the
    // superseded version, not linger as a phantom passage
    StreamingChunkIndex.processBatch(
      Seq((2L, "cat cat cat cat")).toDF("doc_id", "text").withColumn("op", lit("u")),
      1, lexDir, window = 4, stride = 4, opCol = Some("op"))
    StreamingChunkIndex.processVecBatch(
      Seq((2L, Chunking.key(2L, 0), Seq(0.0, 1.0)))
        .toDF("doc_id", "ck", "embedding").withColumn("op", lit("u")),
      1, vecDir, centroids, opCol = Some("op"))
    val after = fusedLive().select("doc_id", "best_chunk")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    after should contain((1L, 1L))
    after should not contain ((2L, 1L)) // the phantom passage is gone

    // a query whose id COLLIDES with a live chunk key must still see that
    // passage: query ids and chunk keys are different id spaces, so the
    // single-id-space self-exclusion rule is off for chunk probes (it
    // would silently hide doc 1's chunk 1 from this query)
    val collider = Seq((Chunking.key(1L, 1), Seq(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    StreamingChunkIndex.ivfChunkHitsLive(
      StreamingChunkIndex.readVecSegments(spark, vecDir),
      SegmentStore.readDels(spark, vecDir, "doc_id"),
      centroids, collider, kChunks = 20)
      .select("doc_id").as[Long].collect() should contain(Chunking.key(1L, 1))

    // the vec index's centroids are FROZEN in the artifact: a later batch
    // passing different centroids is assigned with the persisted set (the
    // StreamingAnnIndex coherence rule), so probes and assignments can
    // never mix routing parameters
    val stray = Seq((0L, Seq(-1.0, -1.0))).toDF("vec_id", "embedding")
    StreamingChunkIndex.processVecBatch(
      Seq((3L, Chunking.key(3L, 0), Seq(0.9, 0.1)))
        .toDF("doc_id", "ck", "embedding").withColumn("op", lit("u")),
      2, vecDir, stray, opCol = Some("op"))
    StreamingAnnIndex.readCentroids(spark, vecDir)
      .orderBy("vec_id").collect().map(_.getSeq[Double](1)).toSeq shouldBe
      Seq(Seq(1.0, 1.0))
    // and the new row is findable — it was bucketed with the same
    // centroids the probe routes with
    StreamingChunkIndex.ivfChunkHitsLive(
      StreamingChunkIndex.readVecSegments(spark, vecDir),
      SegmentStore.readDels(spark, vecDir, "doc_id"),
      centroids, Seq((700L, Seq(0.9, 0.1))).toDF("vec_id", "embedding"),
      kChunks = 20)
      .select("doc_id").as[Long].collect() should contain(Chunking.key(3L, 0))
  }
}
