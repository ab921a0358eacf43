package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{Tables, TestSpark}
import graft.scale.Similarity

/** Pinned snapshots: the reproducible-training-run primitive. A pin must
  * return the EXACT pinned state, bit-identical, across upserts, deletes,
  * compaction, grace expiry, and a centroid-generation refresh — while
  * the live view moves on; releasing the pin must hand every held dir
  * back to the normal reclamation path (pins cost only the disk they
  * reference, and only while they exist).
  */
class SegmentStorePinSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val segSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))
  private val segSchemaB = StructType(segSchema.fields :+ StructField("batch", LongType))

  private def identityBuild(ups: DataFrame): DataFrame =
    ups.select(col("id"), col("id").as("v"))

  private def send(dir: String, b: Long, rows: Seq[(Long, String)]): Unit =
    SegmentStore.processBatch(rows.toDF("id", "op"), b, dir, "id", "id",
      Some("op"), compactSegments = 3, identityBuild)

  private def liveIds(dir: String): Set[Long] =
    SegmentStore.liveRows(SegmentStore.readSegments(spark, dir, segSchemaB),
      SegmentStore.readDels(spark, dir, "id"), "id")
      .select("id").as[Long].collect().toSet

  private def pinnedIds(dir: String, name: String): Set[Long] = {
    val p = SegmentStore.readPin(dir, name)
    SegmentStore.liveRows(
      SegmentStore.readSegments(spark, dir, segSchemaB, p.manifest),
      SegmentStore.readDels(spark, dir, "id", p.manifest), "id")
      .select("id").as[Long].collect().toSet
  }

  test("a pin returns the exact pinned state across upserts, deletes, compaction, and grace expiry") {
    val dir = Files.createTempDirectory("graft-pin-lsm").toString
    send(dir, 0, Seq((1L, "u"), (2L, "u")))
    send(dir, 1, Seq((3L, "u")))
    SegmentStore.pin(dir, "train-run-1")
    val asOf = Set(1L, 2L, 3L)
    pinnedIds(dir, "train-run-1") shouldBe asOf

    // the live stream moves on: id 2 deleted, id 1 superseded, and enough
    // batches that compaction (threshold 3) runs AND the pinned dirs'
    // grace window (2 commits) fully expires
    send(dir, 2, Seq((2L, "d"), (1L, "u")))
    // just after compaction the pinned dirs are dead but STILL INSIDE the
    // grace window — they'd survive with zero pins, so the dashboard must
    // report them parked, not held (held bytes are the release-to-reclaim
    // signal, and releasing now would reclaim nothing until grace expiry)
    val young = SegmentStore.pinReport(dir).head
    young.parkedDirs shouldBe 2
    young.heldDirs shouldBe 0
    young.heldBytes shouldBe 0L
    send(dir, 3, Seq((4L, "u")))
    send(dir, 4, Seq((5L, "u")))
    send(dir, 5, Seq((6L, "u")))
    liveIds(dir) shouldBe Set(1L, 3L, 4L, 5L, 6L)

    // compaction replaced the pinned segments long ago, and their grace
    // expired — but the pin holds them: on disk, parked in pending, and
    // FLAGGED held (so a later commit can tell a released hold apart from
    // an ordinary grace expiry)
    val m = SegmentStore.readManifest(dir)
    m.segs should not contain "seg=a0"
    Files.exists(Paths.get(dir, "seg=a0")) shouldBe true
    Files.exists(Paths.get(dir, "seg=a1")) shouldBe true
    m.pending.map(_._1) should contain allOf ("seg=a0", "seg=a1")
    m.held should contain allOf ("seg=a0", "seg=a1")
    // and the pinned read is still the exact as-of state
    pinnedIds(dir, "train-run-1") shouldBe asOf

    // a second pin of the CURRENT state coexists independently
    SegmentStore.pin(dir, "train-run-2")
    pinnedIds(dir, "train-run-2") shouldBe Set(1L, 3L, 4L, 5L, 6L)
    SegmentStore.listPins(dir) shouldBe Seq("train-run-1", "train-run-2")

    // the operator dashboard: the old pin is holding its dead dirs (and
    // paying bytes for them), the current-state pin holds nothing
    val report = SegmentStore.pinReport(dir).map(r => r.name -> r).toMap
    report("train-run-1").heldDirs shouldBe 2 // seg=a0, seg=a1 — past grace
    report("train-run-1").heldBytes should be > 0L
    report("train-run-1").liveDirs shouldBe 0
    report("train-run-1").parkedDirs shouldBe 0
    report("train-run-2").heldDirs shouldBe 0
    report("train-run-2").heldBytes shouldBe 0L
    SegmentStore.unpin(dir, "train-run-2")

    // release: the first commit after the unpin does NOT delete the held
    // dirs — it re-stamps them with a fresh grace window (an in-flight
    // probe planned against the pin just before the unpin gets the same
    // slack a live-manifest probe gets, never a mid-scan missing file)
    SegmentStore.unpin(dir, "train-run-1")
    send(dir, 6, Seq((7L, "u")))
    Files.exists(Paths.get(dir, "seg=a0")) shouldBe true
    Files.exists(Paths.get(dir, "seg=a1")) shouldBe true
    val released = SegmentStore.readManifest(dir)
    released.pending.toMap.apply("seg=a0") shouldBe 6L // re-stamped, not original
    released.held shouldBe empty // parked normally now, no longer held
    // ...and the fresh window then expires like any other parked dir
    send(dir, 7, Seq((8L, "u")))
    send(dir, 8, Seq((9L, "u")))
    Files.exists(Paths.get(dir, "seg=a0")) shouldBe false
    Files.exists(Paths.get(dir, "seg=a1")) shouldBe false
    SegmentStore.readManifest(dir).pending.map(_._1) should not contain "seg=a0"
    liveIds(dir) shouldBe Set(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L)
  }

  test("pin API edges: immutable names, committed-index requirement, idempotent release") {
    val dir = Files.createTempDirectory("graft-pin-edges").toString
    // no committed manifest yet
    an[IllegalArgumentException] should be thrownBy SegmentStore.pin(dir, "p")
    send(dir, 0, Seq((1L, "u")))
    // bad names rejected (a '/' would escape _pins/)
    an[IllegalArgumentException] should be thrownBy SegmentStore.pin(dir, "a/b")
    an[IllegalArgumentException] should be thrownBy SegmentStore.pin(dir, ".hidden")
    // a typo'd extra dir fails NOW, not as a missing-file error months later
    an[IllegalArgumentException] should be thrownBy
      SegmentStore.pin(dir, "p", Seq("_centroids_g9"))
    SegmentStore.pin(dir, "p")
    // pins are immutable references — re-pinning the name fails loudly
    an[IllegalArgumentException] should be thrownBy SegmentStore.pin(dir, "p")
    // roundtrip
    val p = SegmentStore.readPin(dir, "p")
    p.manifest.lastBatch shouldBe 0L
    p.manifest.segs shouldBe Seq("seg=a0")
    p.extraDirs shouldBe empty
    // release is idempotent; unknown names are a no-op
    SegmentStore.unpin(dir, "p")
    SegmentStore.unpin(dir, "p")
    SegmentStore.unpin(dir, "never-existed")
    SegmentStore.listPins(dir) shouldBe empty
  }

  test("an ANN pin survives a centroid refresh: pinned probes route with the pinned generation") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"),
        col("label"))
    val centroids = e.filter(col("vec_id") % 10 === 3).select("vec_id", "embedding")
    val queries = e.filter(col("label") === 0).select("vec_id", "embedding")
    val indexDir = Files.createTempDirectory("graft-pin-ann").toString

    StreamingAnnIndex.processBatch(
      e.select(col("vec_id"), col("embedding"), lit("u").as("op")),
      0L, indexDir, centroids, opCol = Some("op"), compactSegments = 10)
    StreamingAnnIndex.pinIndex(indexDir, "asof0")
    val pinnedDf = StreamingAnnIndex
      .ivfTopKPinned(spark, indexDir, "asof0", queries, k = 3, nprobe = 1)
    val before = pinnedDf
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).toSet
    before should not be empty

    // the scale contract SCALING.md claims: a pinned probe runs the LIVE
    // probe's plan — same operators in the same shape, no separate
    // "pinned path" to keep fast. Compared post-execution (AQE final),
    // over the identical file set the pin references at this commit.
    def shape(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.collect() // finalize AQE
      val p = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      p.collect { case n => n.getClass.getSimpleName }
    }
    val liveDf = StreamingAnnIndex.ivfTopKLive(spark, indexDir, queries, k = 3, nprobe = 1)
    shape(pinnedDf) shouldBe shape(liveDf)

    // the live index re-parameterizes: new centroid generation, every row
    // re-bucketed, old generation parked via extraDead — then two more
    // commits so the parked dirs' grace expires
    StreamingAnnIndex.refreshCentroids(spark, indexDir, lloydIters = 2)
    StreamingAnnIndex.processBatch(
      Seq((900001L, Seq.fill(64)(0.5), "u")).toDF("vec_id", "embedding", "op"),
      1L, indexDir, centroids, opCol = Some("op"), compactSegments = 10)
    StreamingAnnIndex.processBatch(
      Seq((900002L, Seq.fill(64)(0.25), "u")).toDF("vec_id", "embedding", "op"),
      2L, indexDir, centroids, opCol = Some("op"), compactSegments = 10)

    // the superseded generation is dead to the live index but held for
    // the pin: dir on disk, probes bit-identical to the pre-refresh run;
    // the family dashboard prices the hold (the pinned g0 centroids are
    // dead to the live g1 index, so they count as held bytes)
    SegmentStore.readManifest(indexDir).param shouldBe Some("g1")
    Files.exists(Paths.get(indexDir, "_centroids")) shouldBe true
    val annReport = StreamingAnnIndex.pinReport(indexDir)
    annReport.map(_.name) shouldBe Seq("asof0")
    annReport.head.heldDirs should be >= 2 // seg=a0 + the g0 centroids
    annReport.head.heldBytes should be > 0L
    val after = StreamingAnnIndex
      .ivfTopKPinned(spark, indexDir, "asof0", queries, k = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).toSet
    after shouldBe before
    // the pinned probe must NOT see rows upserted after the pin
    after.map(_._3) should contain noneOf (900001L, 900002L)

    // live probes route with the refreshed generation; every query is a
    // corpus member, so each answers from at least its own bucket
    val live = StreamingAnnIndex.ivfTopKLive(spark, indexDir, queries, k = 3, nprobe = 1)
    live.select("q_id").distinct().count() shouldBe queries.count()

    // release: the first commit re-stamps the held generation with a
    // fresh grace window (in-flight pinned probes keep their files); the
    // window then expires and the generation is physically reclaimed
    SegmentStore.unpin(indexDir, "asof0")
    StreamingAnnIndex.processBatch(
      Seq((900003L, Seq.fill(64)(0.75), "u")).toDF("vec_id", "embedding", "op"),
      3L, indexDir, centroids, opCol = Some("op"), compactSegments = 10)
    Files.exists(Paths.get(indexDir, "_centroids")) shouldBe true // fresh grace
    StreamingAnnIndex.processBatch(
      Seq((900004L, Seq.fill(64)(0.1), "u")).toDF("vec_id", "embedding", "op"),
      4L, indexDir, centroids, opCol = Some("op"), compactSegments = 10)
    StreamingAnnIndex.processBatch(
      Seq((900005L, Seq.fill(64)(0.9), "u")).toDF("vec_id", "embedding", "op"),
      5L, indexDir, centroids, opCol = Some("op"), compactSegments = 10)
    Files.exists(Paths.get(indexDir, "_centroids")) shouldBe false
    Files.exists(Paths.get(indexDir, "seg=a0")) shouldBe false
  }

  test("k pins hold at most k generations: held bytes plateau and drop stepwise on release") {
    // the SCALING.md retention bound, asserted: with compactSegments = 2
    // every second batch compacts into one segment (a "generation"), and
    // a pin taken right after a compaction references exactly that one
    // segment. k such pins must hold exactly their k generations — no
    // matter how many more generations churn past — and releasing them
    // one at a time must step the held set down pin by pin.
    val dir = Files.createTempDirectory("graft-pin-bound").toString
    def sendC2(b: Long, id: Long): Unit =
      SegmentStore.processBatch(Seq((id, "u")).toDF("id", "op"), b, dir, "id",
        "id", Some("op"), compactSegments = 2, identityBuild)
    def heldDirs(): Set[String] = {
      val m = SegmentStore.readManifest(dir)
      m.held.foreach(h => Files.exists(Paths.get(dir, h)) shouldBe true)
      m.held
    }
    var b = 0L
    def generation(pinName: String): String = {
      sendC2(b, b + 100); b += 1
      sendC2(b, b + 100) // second segment tips compaction -> seg=c<b>
      val gen = s"seg=c$b"; b += 1
      SegmentStore.readManifest(dir).segs shouldBe Seq(gen)
      SegmentStore.pin(dir, pinName)
      gen
    }
    val g1 = generation("p1")
    val g2 = generation("p2")
    val g3 = generation("p3")
    // churn: three more unpinned generations — the held set must plateau
    // at exactly the 3 pinned generations (k pins -> k generations), the
    // later generations expiring through the ordinary grace path
    generation("p4"); SegmentStore.unpin(dir, "p4")
    generation("p5"); SegmentStore.unpin(dir, "p5")
    generation("p6"); SegmentStore.unpin(dir, "p6")
    sendC2(b, b + 100); b += 1
    sendC2(b, b + 100); b += 1
    sendC2(b, b + 100); b += 1
    sendC2(b, b + 100); b += 1
    heldDirs() shouldBe Set(g1, g2, g3)
    val bytesAt3 = SegmentStore.pinReport(dir).map(_.heldBytes).sum
    bytesAt3 should be > 0L

    // stepwise release: each unpin + a grace window's worth of commits
    // drops exactly that pin's generation from the held set and its bytes
    // from the report
    SegmentStore.unpin(dir, "p1")
    sendC2(b, b + 100); b += 1 // observes the release, re-stamps g1
    sendC2(b, b + 100); b += 1
    sendC2(b, b + 100); b += 1 // g1's fresh grace expires
    heldDirs() shouldBe Set(g2, g3)
    Files.exists(Paths.get(dir, g1)) shouldBe false
    val bytesAt2 = SegmentStore.pinReport(dir).map(_.heldBytes).sum
    bytesAt2 should be < bytesAt3

    SegmentStore.unpin(dir, "p2")
    sendC2(b, b + 100); b += 1
    sendC2(b, b + 100); b += 1
    sendC2(b, b + 100); b += 1
    heldDirs() shouldBe Set(g3)
    Files.exists(Paths.get(dir, g2)) shouldBe false
    SegmentStore.pinReport(dir).map(_.heldBytes).sum should be < bytesAt2

    SegmentStore.unpin(dir, "p3")
    sendC2(b, b + 100); b += 1
    sendC2(b, b + 100); b += 1
    sendC2(b, b + 100); b += 1
    heldDirs() shouldBe empty
    Files.exists(Paths.get(dir, g3)) shouldBe false
    SegmentStore.pinReport(dir) shouldBe empty
  }

  test("a dedup pin keeps claiming verdicts from documents deleted after the pin") {
    // the reproducible-run contract for the fourth maintained family: a
    // training run pins its corpus, and its dedup verdicts must stay
    // as-of that snapshot — a document deleted later keeps claiming
    // dup_of in the pinned view while the live view calls the same delta
    // document new
    val dir = Files.createTempDirectory("graft-pin-dedup").toString
    val text1 = "the quick brown fox jumps over the lazy dog again and again today"
    val docs0 = Seq(
      (1L, text1),
      (2L, "an entirely different document about segment stores and manifests here"))
      .toDF("doc_id", "text").withColumn("op", lit("u"))
    StreamingDedupIndex.processBatch(docs0, 0L, dir, opCol = Some("op"))
    SegmentStore.pin(dir, "train-corpus")

    val delta = Seq((100L, text1)).toDF("doc_id", "text") // exact copy: J = 1
    def verdict(df: org.apache.spark.sql.DataFrame): (Option[Long], Boolean) = {
      val r = df.filter(col("id") === 100L).collect().head
      (if (r.isNullAt(r.fieldIndex("dup_of"))) None
       else Some(r.getLong(r.fieldIndex("dup_of"))),
        r.getBoolean(r.fieldIndex("is_new")))
    }
    val pinnedDf = StreamingDedupIndex.probePinned(spark, dir, "train-corpus",
      delta, "doc_id", "text")
    verdict(pinnedDf) shouldBe ((Some(1L), false))

    // a pinned probe runs the live probe's plan — same operators in the
    // same shape (the SCALING.md claim, pinned like the ANN family's)
    def shape(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.collect() // finalize AQE
      val p = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      p.collect { case n => n.getClass.getSimpleName }
    }
    shape(pinnedDf) shouldBe
      shape(StreamingDedupIndex.probe(spark, dir, delta, "doc_id", "text"))

    // doc 1 deleted: the live probe stops matching, the pin does not
    StreamingDedupIndex.processBatch(
      Seq((1L, "", "d")).toDF("doc_id", "text", "op"), 1L, dir, opCol = Some("op"))
    verdict(StreamingDedupIndex.probe(spark, dir, delta, "doc_id", "text")) shouldBe
      ((None, true))
    verdict(StreamingDedupIndex.probePinned(spark, dir, "train-corpus",
      delta, "doc_id", "text")) shouldBe ((Some(1L), false))
    SegmentStore.unpin(dir, "train-corpus")
  }

  test("a BM25 pin freezes corpus statistics, not just the row set") {
    // deleting a document changes N, avgdl, and every idf — a pinned
    // ranking must keep the as-of SCORES, which only holds because the
    // stats pass runs over the pinned rows, not a frozen stats artifact
    val dir = Files.createTempDirectory("graft-pin-bm25").toString
    val docs0 = Seq(
      (1L, "zebra apple pear plum"),
      (2L, "zebra zebra cat cat cat cat"),
      (3L, "apple cat dog fish fowl moth lark wren"))
      .toDF("doc_id", "text").withColumn("op", lit("u"))
    StreamingRetrieval.processBatch(docs0, 0L, dir, opCol = Some("op"),
      compactSegments = 3)
    SegmentStore.pin(dir, "eval-set")
    val probes = Seq((500L, "zebra"), (500L, "cat")).toDF("q_id", "term")
    def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Double)] =
      df.select("q_id", "rank", "doc_id", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq.sorted
    val before = ranked(StreamingRetrieval
      .bm25TopKPinned(spark, dir, "eval-set", probes, "q_id", "term", k = 3))
    before should not be empty

    // doc 3 deleted, doc 1 rewritten without 'zebra' → live N/avgdl/idf
    // all move, and doc 1 leaves the zebra postings
    StreamingRetrieval.processBatch(
      Seq((3L, "", "d"), (1L, "apple pear plum", "u")).toDF("doc_id", "text", "op"),
      1L, dir, opCol = Some("op"), compactSegments = 3)
    val live = ranked(StreamingRetrieval
      .bm25TopKLive(spark, dir, probes, "q_id", "term", k = 3))
    live should not be before
    ranked(StreamingRetrieval
      .bm25TopKPinned(spark, dir, "eval-set", probes, "q_id", "term", k = 3)) shouldBe before
  }

  test("a fused hybrid pin freezes both legs together; a half-pinned pair never exists") {
    // the StreamingChunkIndexSpec fixture: doc 1's passage c1 carries
    // both signals, doc 2 splits its evidence across two passages
    val lexDir = Files.createTempDirectory("graft-pin-fused-lex").toString
    val vecDir = Files.createTempDirectory("graft-pin-fused-vec").toString
    val docs0 = Seq(
      (1L, "filler filler filler filler zebra apple pear plum"),
      (2L, "zebra zebra apple apple cat cat cat cat"))
      .toDF("doc_id", "text").withColumn("op", lit("u"))
    val vecs0 = Seq(
      (1L, graft.scale.Chunking.key(1L, 0), Seq(0.0, 1.0)),
      (1L, graft.scale.Chunking.key(1L, 1), Seq(0.995, 0.1)),
      (2L, graft.scale.Chunking.key(2L, 0), Seq(0.0, 1.0)),
      (2L, graft.scale.Chunking.key(2L, 1), Seq(1.0, 0.0)))
      .toDF("doc_id", "ck", "embedding").withColumn("op", lit("u"))
    val centroids = Seq((0L, Seq(1.0, 1.0))).toDF("vec_id", "embedding")

    // pinning before the vec store's first commit must fail AND roll the
    // lexical pin back — a half-pinned pair would silently fuse one
    // leg's past with the other's present
    StreamingChunkIndex.processBatch(docs0, 0, lexDir, window = 4, stride = 4,
      opCol = Some("op"))
    an[IllegalArgumentException] should be thrownBy
      StreamingChunkIndex.pinIndex(lexDir, vecDir, "rag-eval")
    SegmentStore.listPins(lexDir) shouldBe empty

    StreamingChunkIndex.processVecBatch(vecs0, 0, vecDir, centroids,
      opCol = Some("op"))
    StreamingChunkIndex.pinIndex(lexDir, vecDir, "rag-eval")

    val probes = Seq((500L, "zebra")).toDF("q_id", "term")
    val vqueries = Seq((500L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    def fusedPinned(): Map[Int, (Long, Long)] = StreamingChunkIndex
      .fusedTopKPinnedDocs(spark, lexDir, vecDir, "rag-eval",
        probes, "q_id", "term", vqueries, kChunks = 20, kDocs = 2,
        nprobe = 1, k0 = 60)
      .select("rank", "doc_id", "best_chunk").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val before = fusedPinned()
    before(1) shouldBe ((1L, 1L)) // chunk-level fusion: both-signals passage wins

    // both legs move on: doc 2 shrinks to one chunk in text AND vectors
    StreamingChunkIndex.processBatch(
      Seq((2L, "cat cat cat cat")).toDF("doc_id", "text").withColumn("op", lit("u")),
      1, lexDir, window = 4, stride = 4, opCol = Some("op"))
    StreamingChunkIndex.processVecBatch(
      Seq((2L, graft.scale.Chunking.key(2L, 0), Seq(0.0, 1.0)))
        .toDF("doc_id", "ck", "embedding").withColumn("op", lit("u")),
      1, vecDir, centroids, opCol = Some("op"))

    fusedPinned() shouldBe before
    StreamingChunkIndex.unpinIndex(lexDir, vecDir, "rag-eval")
    SegmentStore.listPins(lexDir) shouldBe empty
    SegmentStore.listPins(vecDir) shouldBe empty

    // a crash BETWEEN the two pins leaves a durable orphan half (no
    // rollback could run) — indistinguishable from a deliberate
    // store-level pin under the same name, so the default is LOUD
    // failure (never silently release a pin that might be real), and
    // repair is an explicit opt-in that re-pins both legs
    SegmentStore.pin(lexDir, "half")
    an[IllegalArgumentException] should be thrownBy
      StreamingChunkIndex.pinIndex(lexDir, vecDir, "half")
    SegmentStore.listPins(lexDir) shouldBe Seq("half") // untouched by the refusal
    StreamingChunkIndex.pinIndex(lexDir, vecDir, "half", repairOrphan = true)
    SegmentStore.listPins(lexDir) shouldBe Seq("half")
    SegmentStore.listPins(vecDir) shouldBe Seq("half")
    // both legs present → immutable, like any pin (repair flag included —
    // a complete pair is never an orphan)
    an[IllegalArgumentException] should be thrownBy
      StreamingChunkIndex.pinIndex(lexDir, vecDir, "half", repairOrphan = true)
    StreamingChunkIndex.unpinIndex(lexDir, vecDir, "half")
  }
}
