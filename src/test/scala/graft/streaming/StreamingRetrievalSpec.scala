package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.scale.Retrieval

/** The streamed postings index equals the batch-built index at every batch
  * boundary: probes against the live segment set return exactly what
  * [[Retrieval.bm25TopK]] computes over the surviving latest-version
  * corpus — N, avgdl, and document frequencies included (they are derived
  * at probe time, so a later batch's arrivals reweight earlier documents'
  * scores exactly as a rebuild would). The LSM lifecycle is pinned too:
  * segment count stays bounded by the compaction threshold, compaction
  * never changes a probe answer, updates and deletes are visible on the
  * next probe, and a redelivered batch is a no-op.
  */
class StreamingRetrievalSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  private def probeMap(indexDir: String, probes: org.apache.spark.sql.DataFrame) =
    StreamingRetrieval.bm25TopKLive(spark, indexDir, probes, "q_id", "term", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getInt(3))))
      .toMap

  private def rebuilt(docs: Seq[(Long, String)], probes: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    Retrieval.bm25TopK(docs.toDF("doc_id", "text"), "doc_id", "text",
      probes, "q_id", "term", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getInt(3))))
      .toMap
  }

  private def liveSegs(indexDir: String): Seq[String] =
    SegmentStore.readManifest(indexDir).segs

  test("streamed index ≡ batch rebuild after each micro-batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val indexDir = Files.createTempDirectory("graft-bm25-stream-idx").toString
    val ckpt = Files.createTempDirectory("graft-bm25-stream-ckpt").toString
    val q = StreamingRetrieval.attachIndexMaintenance(
      input.toDS().toDF("doc_id", "text"), indexDir, ckpt)

    val batch1 = Seq((1L, "alpha beta gamma pad"), (2L, "alpha pad pad pad"),
      (3L, "delta pad other rows"))
    val batch2 = Seq((4L, "alpha beta pad pad pad pad"), (5L, "beta other pad"))
    val probes = Seq((7L, "alpha"), (7L, "beta")).toDF("q_id", "term")

    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      probeMap(indexDir, probes) shouldBe rebuilt(batch1, probes)

      input.addData(batch2: _*)
      q.processAllAvailable()
      // deliberately the same probe plan, NO clearCache: nothing is
      // plan-cached, so the re-probe must read the grown segment set
      val after2 = probeMap(indexDir, probes)
      after2 shouldBe rebuilt(batch1 ++ batch2, probes)
      // batch 2 changed df(alpha)/N, so batch-1 docs' scores moved too —
      // the probe-time statistics derivation, not a stale-index read
      after2((7L, 1L))._1 should not be rebuilt(batch1, probes)((7L, 1L))._1

      // an append-only stream stays probe-able through the plain
      // partition-discovery read, no manifest required
      val plain = Retrieval.bm25TopKIndexed(
        spark.read.parquet(indexDir), probes, "q_id", "term", k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getInt(3))))
        .toMap
      plain shouldBe after2
    } finally q.stop()
  }

  test("segment count is bounded by the threshold; compaction changes no answer") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("graft-bm25-lsm-idx").toString
    val probes = Seq((7L, "alpha"), (7L, "beta")).toDF("q_id", "term")
    val corpus = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    (0 until 9).foreach { b =>
      val docs = Seq((b * 10L + 1, s"alpha beta tok$b pad"), (b * 10L + 2, s"beta uniq$b pad pad"))
      corpus ++= docs
      val before = if (liveSegs(indexDir).size == 2) Some(probeMap(indexDir, probes)) else None
      StreamingRetrieval.processBatch(docs.toDF("doc_id", "text"), b, indexDir,
        compactSegments = 3)
      liveSegs(indexDir).size should be <= 3
      probeMap(indexDir, probes) shouldBe rebuilt(corpus.toSeq, probes)
      // a batch that tipped the set over the threshold compacted to one
      if (before.isDefined && liveSegs(indexDir).size == 1)
        liveSegs(indexDir).head should startWith("seg=c")
    }
    // 9 batches, threshold 3 → compactions happened and the set is bounded
    liveSegs(indexDir).size should be <= 3
  }

  test("updates and deletes are visible on the next probe and survive compaction") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("graft-bm25-upd-idx").toString
    val probes = Seq((7L, "alpha"), (7L, "beta"), (7L, "zeta")).toDF("q_id", "term")
    def send(b: Long, rows: Seq[(Long, String, String)]): Unit =
      StreamingRetrieval.processBatch(rows.toDF("doc_id", "text", "op"), b, indexDir,
        opCol = Some("op"), compactSegments = 4)

    send(0, Seq((1L, "alpha beta pad", "u"), (2L, "alpha pad pad", "u"),
      (3L, "beta other pad", "u")))
    // update doc 1 (loses alpha, gains zeta), delete doc 2
    send(1, Seq((1L, "zeta beta pad", "u"), (2L, "", "d")))
    val expect1 = rebuilt(Seq((1L, "zeta beta pad"), (3L, "beta other pad")), probes)
    probeMap(indexDir, probes) shouldBe expect1
    // liveRows reclaims exactly the survivors' postings
    val live = StreamingRetrieval.liveRows(
      StreamingRetrieval.readSegments(spark, indexDir),
      StreamingRetrieval.readDels(spark, indexDir))
    live.select("doc_id").distinct().as[Long].collect().toSet shouldBe Set(1L, 3L)
    live.filter(col("doc_id") === 1L).select("token").as[String].collect().toSet shouldBe
      Set("zeta", "beta", "pad")

    // delete-then-reinsert resurrects; then tip over the threshold —
    // batch 1's delete marker counts toward the trigger, so batch 2's
    // third segment (3 segs + 1 del = threshold 4) compacts
    send(2, Seq((2L, "alpha reborn pad", "u")))
    liveSegs(indexDir) shouldBe Seq("seg=c2")
    send(3, Seq((4L, "beta tail pad", "u")))
    liveSegs(indexDir) shouldBe Seq("seg=c2", "seg=a3")
    SegmentStore.readManifest(indexDir).dels shouldBe empty // markers cleared
    val finalCorpus = Seq((1L, "zeta beta pad"), (3L, "beta other pad"),
      (2L, "alpha reborn pad"), (4L, "beta tail pad"))
    probeMap(indexDir, probes) shouldBe rebuilt(finalCorpus, probes)
    // physical reclamation: the compacted segment holds no superseded rows
    StreamingRetrieval.readSegments(spark, indexDir)
      .groupBy("doc_id").agg(countDistinct("batch").as("nb"))
      .filter(col("nb") > 1).count() shouldBe 0L
  }

  test("a redelivered batch is a committed no-op; everything-deleted index probes empty") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("graft-bm25-redeliver-idx").toString
    val probes = Seq((7L, "alpha")).toDF("q_id", "term")
    def send(b: Long, rows: Seq[(Long, String, String)]): Unit =
      StreamingRetrieval.processBatch(rows.toDF("doc_id", "text", "op"), b, indexDir,
        opCol = Some("op"), compactSegments = 2)

    send(0, Seq((1L, "alpha pad", "u")))
    val m1 = SegmentStore.readManifest(indexDir)
    // redelivery of an already-committed batch must not duplicate postings
    send(0, Seq((1L, "alpha pad", "u")))
    SegmentStore.readManifest(indexDir) shouldBe m1
    probeMap(indexDir, probes) shouldBe rebuilt(Seq((1L, "alpha pad")), probes)

    // delete the only doc, then a second segment triggers compaction of a
    // fully-dead set — the index must stay readable and probe empty after
    send(1, Seq((1L, "", "d")))
    probeMap(indexDir, probes) shouldBe empty
    send(2, Seq.empty[(Long, String, String)])
    SegmentStore.readManifest(indexDir).lastBatch shouldBe 2L
    send(3, Seq((9L, "other pad", "u"))) // 2 segs → compact; doc 1 dead
    probeMap(indexDir, probes) shouldBe empty
    StreamingRetrieval.readSegments(spark, indexDir)
      .select("doc_id").distinct().as[Long].collect().toSet shouldBe Set(9L)
  }
}
