package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.scale.{Chunking, Similarity}

/** The chunk-vec drift loop, closed — [[AnnRefreshPolicySpec]]'s contract
  * at PASSAGE granularity: the vec store of [[StreamingChunkIndex]] froze
  * its centroids at first commit until round 11; a long-lived passage
  * index drifts exactly like a document index, silently degrading every
  * fused probe forever. Pins: a stable stream NEVER fires; a planted
  * drifted batch fires EXACTLY once (the refresh re-baselines); CHUNK-level
  * recall measurably improves across the automatic refresh; the doc-level
  * upsert/delete contract survives the rewrite; post-refresh upserts
  * bucket with the refreshed generation (the manifest-pointer coherence
  * rule); tiny batches and redelivered batches never fire.
  *
  * Geometry is [[AnnRefreshPolicySpec]]'s 2D fixture (same numbers, same
  * 225° boundary), with vectors keyed by [[Chunking.key]] and liveness by
  * document: the drift event RE-SENDS docs 4-6 (latest-wins must kill
  * their +y chunks) and adds docs 14-16, all in the third-quadrant blob.
  */
class ChunkRefreshPolicySpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val centroids = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
  // docs 1-6, one chunk each near the axes; doc 1 carries a SECOND chunk
  // (multi-chunk docs must survive the rewrite intact)
  private val anchors = Seq(
    (1L, Chunking.key(1L, 0), Seq(1.0, 0.0)),
    (1L, Chunking.key(1L, 1), Seq(0.99, 0.01)),
    (2L, Chunking.key(2L, 0), Seq(1.0, 0.05)),
    (3L, Chunking.key(3L, 0), Seq(1.0, -0.1)),
    (4L, Chunking.key(4L, 0), Seq(0.0, 1.0)),
    (5L, Chunking.key(5L, 0), Seq(0.06, 1.0)),
    (6L, Chunking.key(6L, 0), Seq(-0.09, 1.0)))
  private val stable1 = Seq(
    (7L, Chunking.key(7L, 0), Seq(1.0, 0.035)),
    (8L, Chunking.key(8L, 0), Seq(1.0, 0.07)),
    (9L, Chunking.key(9L, 0), Seq(1.0, -0.05)),
    (10L, Chunking.key(10L, 0), Seq(1.0, 0.02)))
  private val stable2 = Seq(
    (11L, Chunking.key(11L, 0), Seq(1.0, -0.08)),
    (12L, Chunking.key(12L, 0), Seq(1.0, 0.06)),
    (13L, Chunking.key(13L, 0), Seq(1.0, 0.09)))
  // the drift event: docs 4-6 RE-EMBEDDED into the third-quadrant blob
  // (their old +y chunks must die with the superseded doc version) plus
  // new docs 14-16 landing there too — the blob straddles the old 225°
  // bucket boundary
  private val drifters = Seq(
    (4L, Chunking.key(4L, 0), Seq(-0.799, -0.602)),
    (5L, Chunking.key(5L, 0), Seq(-0.777, -0.629)),
    (6L, Chunking.key(6L, 0), Seq(-0.755, -0.656)),
    (14L, Chunking.key(14L, 0), Seq(-0.682, -0.731)),
    (15L, Chunking.key(15L, 0), Seq(-0.656, -0.755)),
    (16L, Chunking.key(16L, 0), Seq(-0.602, -0.799)))
  private val moreBlob = Seq(
    (24L, Chunking.key(24L, 0), Seq(-0.72, -0.69)),
    (25L, Chunking.key(25L, 0), Seq(-0.70, -0.71)),
    (26L, Chunking.key(26L, 0), Seq(-0.68, -0.73)))
  // the probe sits at 226°, inside the blob, just past the stale boundary
  private val q = Seq((100L, Seq(-0.695, -0.719)))

  private val policy =
    StreamingAnnIndex.RefreshPolicy(z = 3.0, minBatchRows = 3, lloydIters = 8)

  private def send(dir: String, b: Long, rows: Seq[(Long, Long, Seq[Double])]) =
    StreamingChunkIndex.processVecBatchWithPolicy(
      rows.toDF("doc_id", "ck", "embedding").withColumn("op", lit("u")),
      b, dir, centroids.toDF("vec_id", "embedding"), policy, opCol = Some("op"))

  /** Top-3 chunk keys by the maintained index — the dir overload:
    * segments, dels, and centroids pinned to ONE manifest snapshot, the
    * probe form a policy-looped deployment must use (a captured
    * centroids frame goes stale at the first automatic refresh).
    */
  private def probeTop3(dir: String): Set[Long] =
    StreamingChunkIndex.ivfChunkHitsLive(spark, dir,
      q.toDF("vec_id", "embedding"), kChunks = 3, nprobe = 1)
      .select("doc_id").as[Long].collect().toSet

  /** Ground truth: exact cosine top-3 over the live CHUNK vectors. */
  private def trueTop3(live: Seq[(Long, Long, Seq[Double])]): Set[Long] =
    Similarity.bruteForceTopK(
      live.map { case (_, ck, v) => (ck, v) }.toDF("vec_id", "embedding"),
      q.toDF("vec_id", "embedding"), k = 3)
      .select("neighbor_id").as[Long].collect().toSet

  test("planted passage drift fires the refresh exactly once; a stable stream never fires") {
    val dir = Files.createTempDirectory("graft-chunk-policy").toString
    send(dir, 0, anchors) shouldBe None
    Files.exists(Paths.get(dir, "_abase")) shouldBe true
    send(dir, 1, stable1) shouldBe None
    send(dir, 2, stable2) shouldBe None
    SegmentStore.readManifest(dir).param shouldBe None

    // the drifted blob: mean assignment cosine craters → fire, re-center,
    // swap the generation pointer, re-baseline
    send(dir, 3, drifters) shouldBe defined
    val m = SegmentStore.readManifest(dir)
    m.param shouldBe Some("g1")
    Files.exists(Paths.get(dir, "_abase_g1")) shouldBe true

    // the refreshed index finds the blob passages at nprobe=1, and they
    // agree with exact search over the live chunk corpus — docs 4-6's OLD
    // +y chunks are dead (latest doc version wins), so none of them appear
    val live = anchors.filter(_._1 <= 3) ++ stable1 ++ stable2 ++ drifters
    val expect = trueTop3(live)
    expect shouldBe Set(Chunking.key(14L, 0), Chunking.key(15L, 0), Chunking.key(6L, 0))
    probeTop3(dir) shouldBe expect

    // more of the absorbed blob: baseline-like under g1 — exactly once
    send(dir, 4, moreBlob) shouldBe None
    SegmentStore.readManifest(dir).param shouldBe Some("g1")

    // post-refresh coherence: batch 4's upserts were assigned THROUGH the
    // manifest pointer (g1), so the probe — routing with g1 — finds the
    // new blob passage nearest the query (doc 25 at 225.4°)
    val live2 = live ++ moreBlob
    trueTop3(live2) should contain(Chunking.key(25L, 0))
    probeTop3(dir) shouldBe trueTop3(live2)
  }

  test("chunk-level recall before vs after the automatic refresh, measured") {
    val dir = Files.createTempDirectory("graft-chunk-policy-recall").toString
    send(dir, 0, anchors) shouldBe None

    // plant the blob WITHOUT the policy: the frozen generation splits it
    // across the stale 225° boundary and chunk recall drops below 1
    StreamingChunkIndex.processVecBatch(
      drifters.toDF("doc_id", "ck", "embedding").withColumn("op", lit("u")),
      1, dir, centroids.toDF("vec_id", "embedding"), opCol = Some("op"))
    val expect1 = trueTop3(anchors.filter(_._1 <= 3) ++ drifters)
    expect1 shouldBe Set(Chunking.key(14L, 0), Chunking.key(15L, 0), Chunking.key(6L, 0))
    val before = probeTop3(dir).intersect(expect1).size / 3.0
    before should be < 1.0

    // the NEXT policy-judged batch fires and heals
    send(dir, 2, moreBlob) shouldBe defined
    val expect2 = trueTop3(anchors.filter(_._1 <= 3) ++ drifters ++ moreBlob)
    val after = probeTop3(dir).intersect(expect2).size / 3.0
    after shouldBe 1.0
    after should be > before
  }

  test("a centroids frame captured before the refresh silently mis-routes; the dir probe does not") {
    // the hazard the dir overload exists for: pre-round-11 the centroids
    // were frozen forever, so capturing them once at attach time was
    // legitimate. With the policy in the loop, the first automatic fire
    // re-buckets every row against g1 while a captured g0 frame keeps
    // routing queries by g0 geometry — same centroid IDS, different
    // positions — and the probe scans the wrong g1 bucket with no error.
    val dir = Files.createTempDirectory("graft-chunk-policy-stale").toString
    send(dir, 0, anchors) shouldBe None
    send(dir, 1, drifters) shouldBe defined // fired → generation g1
    val expect = trueTop3(anchors.filter(_._1 <= 3) ++ drifters)

    // stale probe: the g0 frame routes q (226°) to the +x bucket id,
    // which under g1 holds the +x mass — zero blob passages come back
    val stale = StreamingChunkIndex.ivfChunkHitsLive(
      StreamingChunkIndex.readVecSegments(spark, dir),
      StreamingChunkIndex.readDels(spark, dir),
      centroids.toDF("vec_id", "embedding"), // captured before the fire
      q.toDF("vec_id", "embedding"), kChunks = 3, nprobe = 1)
      .select("doc_id").as[Long].collect().toSet
    stale.intersect(expect) shouldBe empty

    // the manifest-snapshot dir probe routes and scans ONE generation
    probeTop3(dir) shouldBe expect

    // and the fused dir overload (both stores from their own snapshots)
    // agrees with its explicit-frames form composed coherently
    val lexDir = Files.createTempDirectory("graft-chunk-policy-stale-lex").toString
    StreamingChunkIndex.processBatch(
      Seq((14L, "blob blob blob"), (15L, "blob blob text"))
        .toDF("doc_id", "text").withColumn("op", lit("u")),
      0, lexDir, window = 4, stride = 4, opCol = Some("op"))
    val terms = Seq((100L, "blob")).toDF("q_id", "term")
    val viaDirs = StreamingChunkIndex.fusedTopKLiveDocs(spark, lexDir, dir,
      terms, "q_id", "term", q.toDF("vec_id", "embedding"),
      kChunks = 3, kDocs = 3, nprobe = 1, k0 = 60)
      .select("q_id", "doc_id", "best_chunk", "rrf", "rank").collect().toSeq
    val viaFrames = StreamingChunkIndex.fusedTopKLiveDocs(
      StreamingChunkIndex.readSegments(spark, lexDir),
      StreamingChunkIndex.readDels(spark, lexDir),
      StreamingChunkIndex.readVecSegments(spark, dir),
      StreamingChunkIndex.readDels(spark, dir),
      StreamingAnnIndex.readCentroids(spark, dir), // g1, coherent
      terms, "q_id", "term", q.toDF("vec_id", "embedding"),
      kChunks = 3, kDocs = 3, nprobe = 1)
      .select("q_id", "doc_id", "best_chunk", "rrf", "rank").collect().toSeq
    viaDirs should contain theSameElementsAs viaFrames
    viaDirs should not be empty
  }

  test("doc-level deletes keep applying across the refresh") {
    val dir = Files.createTempDirectory("graft-chunk-policy-del").toString
    send(dir, 0, anchors) shouldBe None
    send(dir, 1, drifters) shouldBe defined // re-centered at g1
    // delete doc 15 (id in doc_id; ck/vec ignored on delete rows)
    StreamingChunkIndex.processVecBatch(
      Seq((15L, -1L, Seq(0.0, 0.0))).toDF("doc_id", "ck", "embedding")
        .withColumn("op", lit("d")),
      2, dir, centroids.toDF("vec_id", "embedding"), opCol = Some("op"))
    val got = probeTop3(dir)
    got should not contain Chunking.key(15L, 0)
    got shouldBe trueTop3(
      (anchors.filter(_._1 <= 3) ++ drifters).filterNot(_._1 == 15L))
  }

  test("a drifted batch below minBatchRows cannot fire on noise") {
    val dir = Files.createTempDirectory("graft-chunk-policy-min").toString
    val strict = StreamingAnnIndex.RefreshPolicy(z = 3.0, minBatchRows = 5)
    StreamingChunkIndex.processVecBatchWithPolicy(
      anchors.toDF("doc_id", "ck", "embedding").withColumn("op", lit("u")),
      0, dir, centroids.toDF("vec_id", "embedding"), strict,
      opCol = Some("op")) shouldBe None
    StreamingChunkIndex.processVecBatchWithPolicy(
      drifters.take(2).toDF("doc_id", "ck", "embedding").withColumn("op", lit("u")),
      1, dir, centroids.toDF("vec_id", "embedding"), strict,
      opCol = Some("op")) shouldBe None
    SegmentStore.readManifest(dir).param shouldBe None
  }

  test("a redelivered batch neither re-commits nor re-judges drift") {
    val dir = Files.createTempDirectory("graft-chunk-policy-redeliver").toString
    send(dir, 0, anchors) shouldBe None
    send(dir, 0, drifters) shouldBe None // replayed id, drifted content: skipped
    SegmentStore.readManifest(dir).param shouldBe None
    StreamingChunkIndex.readVecSegments(spark, dir)
      .select("vec_id").as[Long].collect().toSet shouldBe
      anchors.map(_._2).toSet
  }

  test("the attached passage stream re-centers ITSELF: drift mid-stream fires with no manual call") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft-chunk-policy-stream").toString
    val ckpt = Files.createTempDirectory("graft-chunk-policy-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Seq[Double], String)]
    val sq = StreamingChunkIndex.attachVecIndexMaintenanceWithPolicy(
      in.toDS().toDF("doc_id", "ck", "embedding", "op"),
      dir, ckpt, centroids.toDF("vec_id", "embedding"), policy,
      opCol = Some("op"))
    try {
      in.addData(anchors.map { case (d, ck, v) => (d, ck, v, "u") }: _*)
      sq.processAllAvailable()
      SegmentStore.readManifest(dir).param shouldBe None
      in.addData(drifters.map { case (d, ck, v) => (d, ck, v, "u") }: _*)
      sq.processAllAvailable()
      SegmentStore.readManifest(dir).param shouldBe Some("g1")
    } finally sq.stop()
    probeTop3(dir) shouldBe
      trueTop3(anchors.filter(_._1 <= 3) ++ drifters)
  }
}
