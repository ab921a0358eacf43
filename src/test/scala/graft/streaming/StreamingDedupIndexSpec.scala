package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.scale.NearDup

/** The stream-maintained MinHash index must give a delta probe exactly the
  * verdicts a fresh [[NearDup.buildMinHashIndex]] over the surviving
  * latest-version corpus gives: updates re-signature the document (old
  * text stops matching, new text starts), deletes stop claiming dup_of
  * verdicts, compaction changes no verdict, and redelivered maintenance
  * batches are no-ops.
  */
class StreamingDedupIndexSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def verdicts(df: org.apache.spark.sql.DataFrame): Map[Long, (Option[Long], Boolean)] =
    df.collect().map(r => r.getLong(0) ->
      ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getBoolean(3))).toMap

  private def probeMap(indexDir: String, delta: org.apache.spark.sql.DataFrame) =
    verdicts(StreamingDedupIndex.probe(spark, indexDir, delta, "doc_id", "text"))

  private def rebuilt(corpus: Seq[(Long, String)], delta: org.apache.spark.sql.DataFrame) =
    verdicts(NearDup.incrementalMinHashDedup(
      NearDup.buildMinHashIndex(corpus.toDF("doc_id", "text"), "doc_id", "text"),
      delta, "doc_id", "text"))

  private val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val tB = "one two three four five six seven eight nine ten"
  private val tC = "red orange yellow green blue indigo violet purple pink brown"
  private val tD = "north south east west up down left right front back"

  test("streamed index ≡ batch rebuild; updates and deletes change verdicts") {
    val indexDir = Files.createTempDirectory("graft-mh-lsm").toString
    def send(b: Long, rows: Seq[(Long, String, String)]): Unit =
      StreamingDedupIndex.processBatch(rows.toDF("doc_id", "text", "op"), b, indexDir,
        opCol = Some("op"), compactSegments = 4)

    // batch 0: three corpus docs
    send(0, Seq((1L, tA, "u"), (2L, tB, "u"), (3L, tC, "u")))
    // a delta copying docs 1 and 2 dups against them; a fresh doc is new
    val delta = Seq((101L, tA), (102L, tB), (103L, tD)).toDF("doc_id", "text")
    val v0 = probeMap(indexDir, delta)
    v0 shouldBe rebuilt(Seq((1L, tA), (2L, tB), (3L, tC)), delta)
    v0(101L) shouldBe ((Some(1L), false))
    v0(102L) shouldBe ((Some(2L), false))
    v0(103L) shouldBe ((None, true))

    // batch 1: doc 1's text is UPDATED to tD, doc 2 is DELETED
    send(1, Seq((1L, tD, "u"), (2L, "", "d")))
    val v1 = probeMap(indexDir, delta)
    v1 shouldBe rebuilt(Seq((1L, tD), (3L, tC)), delta)
    v1(101L) shouldBe ((None, true))      // old text no longer in the corpus
    v1(102L) shouldBe ((None, true))      // deleted doc claims nothing
    v1(103L) shouldBe ((Some(1L), false)) // matches doc 1's NEW text

    // the live view holds exactly the survivors, one version each
    val live = StreamingDedupIndex.liveIndex(spark, indexDir)
    live.select("id").as[Long].collect().toSet shouldBe Set(1L, 3L)

    // batch 2 tips segs+dels over the threshold (markers count toward the
    // trigger) → compaction; batch 3 appends on top; verdicts hold
    send(2, Seq((4L, tB, "u")))
    SegmentStore.readManifest(indexDir).segs shouldBe Seq("seg=c2")
    SegmentStore.readManifest(indexDir).dels shouldBe empty
    send(3, Seq((5L, "gray silver gold bronze copper iron tin lead zinc nickel", "u")))
    SegmentStore.readManifest(indexDir).segs shouldBe Seq("seg=c2", "seg=a3")
    val v3 = probeMap(indexDir, delta)
    v3 shouldBe rebuilt(Seq((1L, tD), (3L, tC), (4L, tB),
      (5L, "gray silver gold bronze copper iron tin lead zinc nickel")), delta)
    v3(102L) shouldBe ((Some(4L), false)) // tB is back under a new id

    // redelivery of an already-committed batch is a no-op
    val m = SegmentStore.readManifest(indexDir)
    send(3, Seq((999L, tA, "u")))
    SegmentStore.readManifest(indexDir) shouldBe m
  }

  test("maintenance attaches to a real stream and probes between batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val indexDir = Files.createTempDirectory("graft-mh-stream").toString
    val ckpt = Files.createTempDirectory("graft-mh-ckpt").toString
    val q = StreamingDedupIndex.attachIndexMaintenance(
      input.toDS().toDF("doc_id", "text", "op"), indexDir, ckpt,
      opCol = Some("op"), compactSegments = 3)
    val delta = Seq((201L, tA)).toDF("doc_id", "text")
    try {
      input.addData((1L, tA, "u"), (2L, tB, "u"))
      q.processAllAvailable()
      probeMap(indexDir, delta)(201L) shouldBe ((Some(1L), false))
      input.addData((1L, "", "d"))
      q.processAllAvailable()
      probeMap(indexDir, delta)(201L) shouldBe ((None, true))
    } finally q.stop()
  }
}
