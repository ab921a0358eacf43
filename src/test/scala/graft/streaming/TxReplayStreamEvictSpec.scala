package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.tx.{LeftEv, LineRow, OrderRow, RightEv, TxEnd}

/** Stall-timeout eviction for the micro-batch replay engine — the
  * [[TxReplayNative]] `stallTimeoutMs` semantics with the batch counter as
  * the clock: a transaction still incomplete `evictAfterBatches` batches
  * after first sighting is abandoned; the watermark advances past it,
  * stalled later transactions emit, and the abandoned transaction's
  * partial events are never applied (and leave the buffer at compaction).
  * Default (None) preserves the reference's strict stall-forever rule.
  */
class TxReplayStreamEvictSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("an incomplete tx is evicted after N batches; its partial line never surfaces") {
    val engine = new TxReplayStream(spark,
      Files.createTempDirectory("graft-txevict").toString,
      evictAfterBatches = Some(2))

    // batch 0: tx1 complete (emits); tx2 announced one line short (its
    // delivered line 77 must never surface); tx3 complete, stalled by tx2
    val out0 = engine.processBatch(
      Seq(LeftEv(5, "c", 1, 1, OrderRow(9, "x"))).toDF(),
      Seq(RightEv(5, 11, "c", 2, 1, LineRow(1, 1, 1.0)),
          RightEv(5, 77, "c", 10, 2, LineRow(7, 7, 7.0)),
          RightEv(5, 88, "c", 20, 3, LineRow(8, 8, 8.0))).toDF(),
      Seq(TxEnd(1, 100, 1, 1), TxEnd(2, 200, 0, 2), TxEnd(3, 300, 0, 1)).toDF())
    out0.collect().map(_.getAs[Long]("commit_lsn")).toSeq shouldBe Seq(100L)
    engine.currentWatermark shouldBe 100L

    // batch 1: tx2 is 1 batch old — still within the window, still stalls
    val out1 = engine.processBatch(
      Seq.empty[LeftEv].toDF(), Seq.empty[RightEv].toDF(), Seq.empty[TxEnd].toDF())
    out1.count() shouldBe 0L
    engine.currentWatermark shouldBe 100L

    // batch 2: tx2 is 2 batches old — evicted; tx3 and the fresh tx4 emit,
    // and neither document carries tx2's line 77
    val out2 = engine.processBatch(
      Seq.empty[LeftEv].toDF(),
      Seq(RightEv(5, 99, "c", 30, 4, LineRow(9, 9, 9.0))).toDF(),
      Seq(TxEnd(4, 400, 0, 1)).toDF())
      .orderBy("commit_lsn").collect()
    out2.map(_.getAs[Long]("commit_lsn")).toSeq shouldBe Seq(300L, 400L)
    def lineIds(r: org.apache.spark.sql.Row): Seq[Long] =
      Option(r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("lines")))
        .map(_.map(_.getLong(0)).sorted).getOrElse(Seq.empty)
    lineIds(out2(0)) shouldBe Seq(11L, 88L)
    lineIds(out2(1)) shouldBe Seq(11L, 88L, 99L)
    engine.currentWatermark shouldBe 400L
    engine.evictedTxIds shouldBe Seq(2L) // the audit surface names the loss

    // batch 3: a LATE straggler of the evicted tx2 (its missing second
    // line) must not resurrect it — the evicted list filters every read
    val out3 = engine.processBatch(
      Seq.empty[LeftEv].toDF(),
      Seq(RightEv(5, 78, "c", 11, 2, LineRow(7, 8, 7.5))).toDF(),
      Seq.empty[TxEnd].toDF())
    out3.count() shouldBe 0L

    // batch 4: the next complete tx on the key still sees no trace of tx2
    val out4 = engine.processBatch(
      Seq.empty[LeftEv].toDF(),
      Seq(RightEv(5, 55, "c", 40, 6, LineRow(5, 5, 5.0))).toDF(),
      Seq(TxEnd(6, 600, 0, 1)).toDF())
      .collect()
    out4.map(_.getAs[Long]("commit_lsn")).toSeq shouldBe Seq(600L)
    lineIds(out4(0)) shouldBe Seq(11L, 55L, 88L, 99L)
  }

  test("an unannounced stale tx is evicted for state hygiene, not stall relief") {
    val engine = new TxReplayStream(spark,
      Files.createTempDirectory("graft-txevict2").toString,
      evictAfterBatches = Some(1))

    // tx7's events arrive with no END — it never stalls anyone, but its
    // buffered state must not live forever
    engine.processBatch(
      Seq(LeftEv(6, "c", 1, 7, OrderRow(1, "y"))).toDF(),
      Seq.empty[RightEv].toDF(), Seq.empty[TxEnd].toDF()).count() shouldBe 0L
    // next batch ages it past the window → evicted; a late END cannot
    // resurrect it (the END is filtered by the evicted list)
    engine.processBatch(
      Seq.empty[LeftEv].toDF(), Seq.empty[RightEv].toDF(),
      Seq.empty[TxEnd].toDF()).count() shouldBe 0L
    engine.processBatch(
      Seq.empty[LeftEv].toDF(), Seq.empty[RightEv].toDF(),
      Seq(TxEnd(7, 700, 1, 0)).toDF()).count() shouldBe 0L
    engine.currentWatermark shouldBe Long.MinValue
  }
}
