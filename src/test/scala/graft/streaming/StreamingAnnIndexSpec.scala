package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{Tables, TestSpark}
import graft.scale.{Chunking, Similarity}

/** The stream-maintained IVF index must probe exactly like a fresh
  * [[Similarity.assignBuckets]] + [[Similarity.ivfTopKIndexed]] over the
  * surviving latest-version corpus: updated vectors re-assign (possibly
  * to a different bucket) from their NEW values, deleted vectors stop
  * appearing as neighbors, compaction changes no answer, and the
  * centroids persist inside the artifact.
  */
class StreamingAnnIndexSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.01"

  private def topk(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), (Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2)))).toMap

  test("streamed assignments ≡ fresh rebuild through update, delete, compaction") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"),
        col("label"))
    val centroids = e.filter(col("vec_id") % 10 === 3).select("vec_id", "embedding")
    val queries = e.filter(col("label") === 0).select("vec_id", "embedding")
    val indexDir = Files.createTempDirectory("graft-ann-lsm").toString

    def send(b: Long, rows: org.apache.spark.sql.DataFrame): Unit =
      StreamingAnnIndex.processBatch(rows, b, indexDir, centroids,
        opCol = Some("op"), compactSegments = 3)

    def rebuilt(corpus: org.apache.spark.sql.DataFrame) =
      topk(Similarity.ivfTopKIndexed(
        Similarity.assignBuckets(corpus, centroids), centroids, queries, k = 3))

    // batch 0: the whole corpus
    send(0, e.select(col("vec_id"), col("embedding"), lit("u").as("op")))
    topk(StreamingAnnIndex.ivfTopKLive(spark, indexDir, queries, k = 3, nprobe = 1)) shouldBe
      rebuilt(e.select("vec_id", "embedding"))

    // batch 1: every %17 vector is UPDATED to its reverse (direction
    // changes → may move buckets); batch 2: every %13 vector DELETED
    send(1, e.filter(col("vec_id") % 17 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"), lit("u").as("op")))
    send(2, e.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id"), col("embedding"), lit("d").as("op")))
    val survivors = e.filter(col("vec_id") % 13 =!= 0)
      .select(col("vec_id"),
        when(col("vec_id") % 17 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
    val expect = rebuilt(survivors)
    topk(StreamingAnnIndex.ivfTopKLive(spark, indexDir, queries, k = 3, nprobe = 1)) shouldBe expect

    // batch 2's delete marker already tipped segs+dels over the threshold
    // → compaction ran there (markers count toward the trigger so a
    // delete-heavy stream can't accumulate them); batch 3 appends on top.
    // The answer holds and only survivors' latest versions remain
    // physically.
    SegmentStore.readManifest(indexDir).segs shouldBe Seq("seg=c2")
    send(3, Seq((100000L, Seq.fill(64)(0.01), "u")).toDF("vec_id", "embedding", "op"))
    SegmentStore.readManifest(indexDir).segs shouldBe Seq("seg=c2", "seg=a3")
    val afterCompact = topk(StreamingAnnIndex.ivfTopKLive(spark, indexDir, queries, k = 3, nprobe = 1))
    val expect3 = rebuilt(survivors.unionByName(
      Seq((100000L, Seq.fill(64)(0.01))).toDF("vec_id", "embedding")))
    afterCompact shouldBe expect3
    StreamingAnnIndex.readSegments(spark, indexDir)
      .groupBy("vec_id").agg(countDistinct("batch").as("nb"))
      .filter(col("nb") > 1).count() shouldBe 0L

    // the artifact carries its own centroids
    StreamingAnnIndex.readCentroids(spark, indexDir).count() shouldBe centroids.count()
  }

  test("centroid refresh re-centers a drifted corpus and swaps generations atomically") {
    val indexDir = Files.createTempDirectory("graft-ann-refresh").toString
    // trained-at-batch-0 world: two clusters on the +x and +y axes
    val centroids = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val anchors = Seq(
      (1L, Seq(1.0, 0.01)), (2L, Seq(1.0, -0.01)), (3L, Seq(0.99, 0.0)),
      (4L, Seq(0.01, 1.0)), (5L, Seq(-0.01, 1.0)), (6L, Seq(0.0, 0.99)))
    def send(b: Long, rows: Seq[(Long, Seq[Double])], op: String = "u"): Unit =
      StreamingAnnIndex.processBatch(
        rows.toDF("vec_id", "embedding").withColumn("op", lit(op)),
        b, indexDir, centroids, opCol = Some("op"), compactSegments = 8)
    send(0, anchors)

    // months later the +y mass has drifted into ONE blob in the third
    // quadrant (ids 4-6 moved there, 14-16 arrived there) — a blob that
    // STRADDLES the old 225° bucket boundary: its 217-221° side lands in
    // bucket 1, its 227-233° side in bucket 0
    val drifters = Seq(
      (4L, Seq(-0.799, -0.602)), (5L, Seq(-0.777, -0.629)), (6L, Seq(-0.755, -0.656)),
      (14L, Seq(-0.682, -0.731)), (15L, Seq(-0.656, -0.755)), (16L, Seq(-0.602, -0.799)))
    send(1, drifters)
    // the probe sits at 226°, just inside the blob's bucket-0 side
    val q = Seq((100L, Seq(-0.695, -0.719))).toDF("vec_id", "embedding")
    val live = anchors.take(3) ++ drifters

    def probeIds(nprobe: Int): Set[Long] =
      StreamingAnnIndex.ivfTopKLive(spark, indexDir, q, k = 3, nprobe = nprobe)
        .select("neighbor_id").as[Long].collect().toSet
    val trueTop3 = Similarity.bruteForceTopK(live.toDF("vec_id", "embedding"), q, k = 3)
      .select("neighbor_id").as[Long].collect().toSet
    trueTop3 shouldBe Set(14L, 15L, 6L) // 227°, 229°, 221° — both sides

    // the frozen parameter can no longer describe the corpus: at nprobe=1
    // the probe routes into old bucket 0 and sees only that SIDE of the
    // blob — 6 (at 5° away) is invisible behind the stale boundary
    probeIds(1) shouldBe Set(14L, 15L, 16L)

    // refresh: Lloyd from the current centroids migrates one centroid
    // over the whole blob (the anchors hold the other)
    val refreshed = StreamingAnnIndex.refreshCentroids(spark, indexDir, lloydIters = 8)
    refreshed.count() shouldBe 2L

    // generation swapped atomically: manifest param → g1, rows are one
    // rewrite segment, probes now see the true neighbors at nprobe=1
    val m1 = SegmentStore.readManifest(indexDir)
    m1.param shouldBe Some("g1")
    m1.segs shouldBe Seq("seg=r1x0")
    probeIds(1) shouldBe trueTop3

    // live probe ≡ fresh rebuild with the refreshed centroids
    topk(StreamingAnnIndex.ivfTopKLive(spark, indexDir, q, k = 3, nprobe = 1)) shouldBe
      topk(Similarity.ivfTopKIndexed(
        Similarity.assignBuckets(live.toDF("vec_id", "embedding"), refreshed),
        refreshed, q, k = 3))

    // the stream continues on the refreshed generation: upserts and
    // deletes apply, the parameter pointer rides along, and the old
    // generation's dirs are physically gone once the grace window passes.
    // CRITICAL at nprobe=1: batch 2's upsert must be ASSIGNED with the
    // refreshed g1 centroids (resolved through the manifest pointer, not
    // the caller's frozen argument — which still holds the superseded
    // generation) or the probe, routing via g1, would never scan the
    // bucket the stale assignment put 16 in
    send(2, Seq((16L, Seq(-0.683, -0.730)))) // 16 moves right next to q
    send(3, Seq((15L, Seq(0.0, 0.0))), op = "d")
    SegmentStore.readManifest(indexDir).param shouldBe Some("g1")
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(indexDir, "_centroids")) shouldBe false
    val after = StreamingAnnIndex
      .ivfTopKLive(spark, indexDir, q, k = 3, nprobe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    after should contain(16L)
    after should not contain 15L
    // readCentroids resolves through the pointer — identical to the
    // refresh's return
    StreamingAnnIndex.readCentroids(spark, indexDir)
      .orderBy("vec_id").collect().map(_.getSeq[Double](1)) shouldBe
      refreshed.orderBy("vec_id").collect().map(_.getSeq[Double](1))
  }

  test("a crashed first attempt cannot freeze stale centroids") {
    // simulate a crash between the _centroids write and the first manifest
    // commit: the dir holds centroids A but NO committed batch; the retry
    // passes centroids B — the artifact must route with B, matching the
    // assignments it is about to build. Run over both IVF stores: the
    // document index, and the chunk-vec index with the vector as doc 10's
    // only chunk.
    val a = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val b = Seq((1L, Seq(0.5, 0.5)), (2L, Seq(-0.5, 0.5))).toDF("vec_id", "embedding")
    val stores: Seq[(String, (DataFrame, Long, String, DataFrame) => Unit)] = Seq(
      "doc" -> ((docs, batch, dir, cents) => StreamingAnnIndex.processBatch(
        docs, batch, dir, cents, opCol = Some("op"))),
      "chunk-vec" -> ((docs, batch, dir, cents) => StreamingChunkIndex.processVecBatch(
        docs.select(col("vec_id").as("doc_id"),
          Chunking.chunkKey(col("vec_id"), lit(0)).as("ck"), col("embedding"), col("op")),
        batch, dir, cents, opCol = Some("op"))))
    for ((name, processBatch) <- stores) withClue(s"$name store: ") {
      val indexDir = Files.createTempDirectory("graft-ann-crash").toString
      a.write.parquet(s"$indexDir/_centroids") // the crashed attempt's leftovers
      val docs = Seq((10L, Seq(0.4, 0.6), "u")).toDF("vec_id", "embedding", "op")
      processBatch(docs, 0, indexDir, b)
      StreamingAnnIndex.readCentroids(spark, indexDir)
        .orderBy("vec_id").collect().map(_.getSeq[Double](1)).toSeq shouldBe
        Seq(Seq(0.5, 0.5), Seq(-0.5, 0.5))
      // once a batch has committed, later calls with different centroids do
      // NOT silently re-route the artifact — the parameter is frozen, and
      // assignment resolves through the manifest pointer (the stray argument
      // is ignored entirely)
      processBatch(docs, 1, indexDir, a)
      StreamingAnnIndex.readCentroids(spark, indexDir)
        .orderBy("vec_id").collect().map(_.getSeq[Double](1)).toSeq shouldBe
        Seq(Seq(0.5, 0.5), Seq(-0.5, 0.5))
    }
  }
}
