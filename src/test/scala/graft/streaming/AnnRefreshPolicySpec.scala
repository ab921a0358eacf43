package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.scale.{Chunking, Similarity}

/** The closed drift loop: round 9 built the refresh MECHANISM
  * ([[StreamingAnnIndex.refreshCentroids]]) and drift DETECTION
  * ([[CorpusMonitor]]'s moment rule) separately; the policy wires the
  * same rule to the signal the index computes anyway (per-vector
  * assignment cosine) so a long-running stream re-centers itself. Pins:
  * a stable stream NEVER fires; a planted drifted batch fires EXACTLY
  * once (the refresh re-baselines, so the absorbed blob stays quiet);
  * recall measurably improves across the automatic refresh; tiny batches
  * can't fire on noise; a redelivered batch re-judges nothing.
  *
  * Fixture geometry (2D so every number is checkable by hand): the
  * freeze-time corpus spreads up to ~6° off the +x/+y axis centroids
  * (baseline mean acos ≈ 0.998, sd ≈ 2.1e-3), stable batches stay inside
  * that spread (z < 1), and the drifted mass is a third-quadrant blob
  * straddling the old 225° bucket boundary (acos ≈ −0.6, z ≈ 770).
  */
class AnnRefreshPolicySpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val centroids = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
  // 3 points near each axis, spread 0–6° — the sd a realistic frozen
  // corpus has (an sd-0 baseline would fire on any representation noise)
  private val anchors = Seq(
    (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.05)), (3L, Seq(1.0, -0.1)),
    (4L, Seq(0.0, 1.0)), (5L, Seq(0.06, 1.0)), (6L, Seq(-0.09, 1.0)))
  // the drift event: the whole +y mass (ids 4-6) has MOVED into a
  // third-quadrant blob and new arrivals (14-16) land there too — the
  // blob straddles the old 225° boundary (217°–233°)
  private val drifters = Seq(
    (4L, Seq(-0.799, -0.602)), (5L, Seq(-0.777, -0.629)), (6L, Seq(-0.755, -0.656)),
    (14L, Seq(-0.682, -0.731)), (15L, Seq(-0.656, -0.755)), (16L, Seq(-0.602, -0.799)))
  // more of the blob, arriving after the refresh absorbed it
  private val moreBlob = Seq(
    (24L, Seq(-0.72, -0.69)), (25L, Seq(-0.70, -0.71)), (26L, Seq(-0.68, -0.73)))
  // the probe sits at 226°, inside the blob, just past the stale boundary
  private val q = Seq((100L, Seq(-0.695, -0.719)))

  private def send(dir: String, b: Long, rows: Seq[(Long, Seq[Double])],
                   policy: StreamingAnnIndex.RefreshPolicy) =
    StreamingAnnIndex.processBatchWithPolicy(
      rows.toDF("vec_id", "embedding").withColumn("op", lit("u")),
      b, dir, centroids.toDF("vec_id", "embedding"),
      policy, opCol = Some("op"))

  private def probeTop3(dir: String): Set[Long] =
    StreamingAnnIndex.ivfTopKLive(spark, dir, q.toDF("vec_id", "embedding"),
      k = 3, nprobe = 1).select("neighbor_id").as[Long].collect().toSet

  private def trueTop3(live: Seq[(Long, Seq[Double])]): Set[Long] =
    Similarity.bruteForceTopK(live.toDF("vec_id", "embedding"),
      q.toDF("vec_id", "embedding"), k = 3)
      .select("neighbor_id").as[Long].collect().toSet

  /** One IVF store as the lifecycle cases below drive it. They run over
    * both: the document index, and the chunk-vec index with vector `i` as
    * doc `i`'s only chunk (chunk key `Chunking.key(i, 0)`, liveness by doc).
    */
  private trait Store {
    def name: String
    def plain(dir: String, b: Long, rows: Seq[(Long, Seq[Double])], op: String): Unit
    def send(dir: String, b: Long, rows: Seq[(Long, Seq[Double])],
             policy: StreamingAnnIndex.RefreshPolicy): Option[DataFrame]
    def judge(dir: String, rows: Seq[(Long, Seq[Double])],
              policy: StreamingAnnIndex.RefreshPolicy): Option[DataFrame]
    def baseline(dir: String): DataFrame
  }

  private object DocStore extends Store {
    val name = "doc"
    def plain(dir: String, b: Long, rows: Seq[(Long, Seq[Double])], op: String): Unit =
      StreamingAnnIndex.processBatch(
        rows.toDF("vec_id", "embedding").withColumn("op", lit(op)),
        b, dir, centroids.toDF("vec_id", "embedding"), opCol = Some("op"))
    def send(dir: String, b: Long, rows: Seq[(Long, Seq[Double])],
             policy: StreamingAnnIndex.RefreshPolicy): Option[DataFrame] =
      AnnRefreshPolicySpec.this.send(dir, b, rows, policy)
    def judge(dir: String, rows: Seq[(Long, Seq[Double])],
              policy: StreamingAnnIndex.RefreshPolicy): Option[DataFrame] =
      StreamingAnnIndex.maybeRefreshOnDrift(spark, dir,
        rows.toDF("vec_id", "embedding"), policy)
    def baseline(dir: String): DataFrame = StreamingAnnIndex.readRefreshBaseline(spark, dir)
  }

  private object ChunkVecStore extends Store {
    val name = "chunk-vec"
    private def chunks(rows: Seq[(Long, Seq[Double])], op: String): DataFrame =
      rows.map { case (i, v) => (i, Chunking.key(i, 0), v) }
        .toDF("doc_id", "ck", "embedding").withColumn("op", lit(op))
    def plain(dir: String, b: Long, rows: Seq[(Long, Seq[Double])], op: String): Unit =
      StreamingChunkIndex.processVecBatch(chunks(rows, op), b, dir,
        centroids.toDF("vec_id", "embedding"), opCol = Some("op"))
    def send(dir: String, b: Long, rows: Seq[(Long, Seq[Double])],
             policy: StreamingAnnIndex.RefreshPolicy): Option[DataFrame] =
      StreamingChunkIndex.processVecBatchWithPolicy(chunks(rows, "u"), b, dir,
        centroids.toDF("vec_id", "embedding"), policy, opCol = Some("op"))
    def judge(dir: String, rows: Seq[(Long, Seq[Double])],
              policy: StreamingAnnIndex.RefreshPolicy): Option[DataFrame] =
      StreamingAnnIndex.maybeRefreshOnDrift(StreamingChunkIndex.vecLayout, spark, dir,
        chunks(rows, "u").select(col("ck").as("vec_id"), col("embedding")), policy)
    def baseline(dir: String): DataFrame =
      StreamingAnnIndex.readRefreshBaseline(StreamingChunkIndex.vecLayout, spark, dir)
  }

  private val stores = Seq(DocStore, ChunkVecStore)

  test("planted drift fires the refresh exactly once; a stable stream never fires") {
    val dir = Files.createTempDirectory("graft-ann-policy").toString
    val policy = StreamingAnnIndex.RefreshPolicy(z = 3.0, minBatchRows = 3,
      lloydIters = 8)

    // batch 0 seeds the index and its freeze-time baseline — judging the
    // seed corpus against itself is sag 0, never a fire
    send(dir, 0, anchors, policy) shouldBe None
    Files.exists(Paths.get(dir, "_abase")) shouldBe true

    // batches 1-2: more arrivals inside the frozen spread (≤6° off +x).
    // The policy must stay quiet.
    val stable1 = Seq((7L, Seq(1.0, 0.035)), (8L, Seq(1.0, 0.07)),
      (9L, Seq(1.0, -0.05)), (10L, Seq(1.0, 0.02)))
    val stable2 = Seq((11L, Seq(1.0, -0.08)), (12L, Seq(1.0, 0.06)),
      (13L, Seq(1.0, 0.09)))
    send(dir, 1, stable1, policy) shouldBe None
    send(dir, 2, stable2, policy) shouldBe None
    SegmentStore.readManifest(dir).param shouldBe None

    // batch 3: the drifted blob. Mean acos craters → the policy fires,
    // re-centers, swaps the generation pointer, and re-baselines.
    send(dir, 3, drifters, policy) shouldBe defined
    val m = SegmentStore.readManifest(dir)
    m.param shouldBe Some("g1")
    Files.exists(Paths.get(dir, "_abase_g1")) shouldBe true

    // the refreshed index finds the blob at nprobe=1 — the recall the
    // refresh exists to restore (14 at 227°, 15 at 229°, 6 at 221°)
    val live = anchors.take(3) ++ stable1 ++ stable2 ++ drifters
    trueTop3(live) shouldBe Set(14L, 15L, 6L)
    probeTop3(dir) shouldBe Set(14L, 15L, 6L)

    // batch 4: MORE of the blob — baseline-like under g1. Exactly once:
    // the absorbed distribution never re-fires.
    send(dir, 4, moreBlob, policy) shouldBe None
    SegmentStore.readManifest(dir).param shouldBe Some("g1")
  }

  test("recall before vs after the automatic refresh, measured") {
    val dir = Files.createTempDirectory("graft-ann-policy-recall").toString
    val policy = StreamingAnnIndex.RefreshPolicy(z = 3.0, minBatchRows = 3,
      lloydIters = 8)
    send(dir, 0, anchors, policy) shouldBe None

    // plant the blob WITHOUT the policy (plain processBatch): the frozen
    // generation splits it across the stale 225° boundary — the probe
    // routes into the old bucket 0 side and recall drops to 2/3
    StreamingAnnIndex.processBatch(
      drifters.toDF("vec_id", "embedding").withColumn("op", lit("u")),
      1, dir, centroids.toDF("vec_id", "embedding"), opCol = Some("op"))
    val expect1 = trueTop3(anchors.take(3) ++ drifters)
    expect1 shouldBe Set(14L, 15L, 6L)
    val before = probeTop3(dir).intersect(expect1).size / 3.0
    before should be < 1.0

    // the NEXT policy-judged batch (more blob arrivals) fires and heals
    send(dir, 2, moreBlob, policy) shouldBe defined
    val expect2 = trueTop3(anchors.take(3) ++ drifters ++ moreBlob)
    val after = probeTop3(dir).intersect(expect2).size / 3.0
    after shouldBe 1.0
    after should be > before
  }

  test("a drifted batch below minBatchRows cannot fire on noise") {
    val dir = Files.createTempDirectory("graft-ann-policy-min").toString
    val policy = StreamingAnnIndex.RefreshPolicy(z = 3.0, minBatchRows = 5)
    send(dir, 0, anchors, policy) shouldBe None
    // two wildly drifted vectors — far past z, but n < minBatchRows
    send(dir, 1, drifters.take(2), policy) shouldBe None
    SegmentStore.readManifest(dir).param shouldBe None
  }

  test("the attached stream re-centers ITSELF: drift mid-stream fires with no manual call") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft-ann-policy-stream").toString
    val ckpt = Files.createTempDirectory("graft-ann-policy-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Double], String)]
    val q = StreamingAnnIndex.attachIndexMaintenanceWithPolicy(
      in.toDS().toDF("vec_id", "embedding", "op"),
      dir, ckpt, centroids.toDF("vec_id", "embedding"),
      StreamingAnnIndex.RefreshPolicy(z = 3.0, minBatchRows = 3, lloydIters = 8),
      opCol = Some("op"))
    try {
      in.addData(anchors.map { case (i, v) => (i, v, "u") }: _*)
      q.processAllAvailable()
      SegmentStore.readManifest(dir).param shouldBe None
      in.addData(drifters.map { case (i, v) => (i, v, "u") }: _*)
      q.processAllAvailable()
      // the stream noticed and re-centered on its own
      SegmentStore.readManifest(dir).param shouldBe Some("g1")
      // and keeps serving, with post-refresh deletes applying normally
      in.addData((15L, Seq(0.0, 0.0), "d"))
      q.processAllAvailable()
    } finally q.stop()
    val got = probeTop3(dir)
    got should not contain 15L
    got shouldBe trueTop3(
      (anchors.take(3) ++ drifters).filterNot(_._1 == 15L))
  }

  test("an empty live corpus never freezes a null baseline; the policy recovers when rows arrive") {
    for (store <- stores) withClue(s"${store.name} store: ") {
      val dir = Files.createTempDirectory("graft-ann-policy-empty").toString
      val policy = StreamingAnnIndex.RefreshPolicy(z = 3.0, minBatchRows = 3)
      // an index maintained WITHOUT the policy: batch 0 commits rows,
      // batch 1 deletes them ALL → committed index, empty live corpus,
      // no baseline ever frozen
      store.plain(dir, 0, anchors, "u")
      store.plain(dir, 1, anchors, "d")
      // the first policy judge bootstraps against the EMPTY corpus: no
      // moments to freeze — it must decline AND persist nothing (a frozen
      // null baseline would disable the policy for the rest of the stream)
      store.judge(dir, drifters, policy) shouldBe None
      Files.exists(Paths.get(dir, "_abase")) shouldBe false
      // rows return; the next judge bootstraps a REAL baseline and the
      // loop works again: drifted arrivals fire
      store.send(dir, 2, anchors, policy) shouldBe None
      Files.exists(Paths.get(dir, "_abase")) shouldBe true
      store.send(dir, 3, drifters, policy) shouldBe defined
      SegmentStore.readManifest(dir).param shouldBe Some("g1")
    }
  }

  test("zero-norm vectors neither kill the batch nor distort the drift signal") {
    // pre-guard, ANSI mode threw DIVIDE_BY_ZERO in pairCos — ONE garbage
    // embedding killed the whole maintenance batch; now a zero vector
    // scores the below-range UndefinedCos sentinel with everything
    // (assigns to the smallest centroid, sorts strictly under every real
    // neighbor) and is excluded BY NORM from the drift moments: garbage
    // neither drags the frozen mean nor masquerades as centroid drift
    for (store <- stores) withClue(s"${store.name} store: ") {
      val dir = Files.createTempDirectory("graft-ann-policy-zero").toString
      val policy = StreamingAnnIndex.RefreshPolicy(z = 3.0, minBatchRows = 3)
      store.send(dir, 0, anchors :+ (99L, Seq(0.0, 0.0)), policy) shouldBe None
      val base = store.baseline(dir).collect()(0)
      base.getDouble(0).isNaN shouldBe false
      base.getLong(2) shouldBe anchors.size.toLong // the zero vector is excluded
      // stable rows + one zero vector stay quiet …
      store.send(dir, 1, Seq((7L, Seq(1.0, 0.035)), (8L, Seq(1.0, 0.07)),
        (9L, Seq(1.0, -0.05)), (100L, Seq(0.0, 0.0))), policy) shouldBe None
      // … and drifted rows + a zero vector still FIRE
      store.send(dir, 2, drifters :+ (101L, Seq(0.0, 0.0)), policy) shouldBe defined
    }
  }

  test("a redelivered batch neither re-commits nor re-judges drift") {
    val dir = Files.createTempDirectory("graft-ann-policy-redeliver").toString
    val policy = StreamingAnnIndex.RefreshPolicy(z = 3.0, minBatchRows = 3,
      lloydIters = 2)
    send(dir, 0, anchors, policy) shouldBe None
    // batch 0 redelivered carrying drifted content (an at-least-once
    // transport glitch): skipped outright — no fire, no new segment
    send(dir, 0, drifters, policy) shouldBe None
    SegmentStore.readManifest(dir).param shouldBe None
    StreamingAnnIndex.readSegments(spark, dir)
      .select("vec_id").as[Long].collect().toSet shouldBe
      anchors.map(_._1).toSet
  }
}
