package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.tx.{LeftEv, LineRow, OrderRow, RightEv, TxEnd}

/** Restart/recovery of the micro-batch replay engine: a NEW instance over the
  * same stateRoot must resume from the manifest (watermark, buffered state,
  * batch counter) instead of silently starting fresh — the failure mode the
  * round-2 advisory flagged. Also covers redelivery (the committed batch's
  * output re-read from its durable copy) and state-dir pruning.
  */
class TxReplayRecoverySpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a restarted engine resumes from the manifest: no re-emission, buffered state survives") {
    val root = Files.createTempDirectory("graft-txrecover").toString

    // incarnation 1: tx 1 fully commits (emits); tx 2's data arrives but its
    // END does not — the buffered left/right rows must survive the restart
    val e1 = new TxReplayStream(spark, root)
    val out1 = e1.processBatch(
      Seq(LeftEv(1, "c", 1, 1, OrderRow(7, "addr-1")),
          LeftEv(2, "c", 3, 2, OrderRow(8, "addr-2"))).toDF(),
      Seq(RightEv(1, 10, "c", 2, 1, LineRow(101, 1, 9.99)),
          RightEv(2, 20, "c", 4, 2, LineRow(202, 2, 19.99))).toDF(),
      Seq(TxEnd(1, 100, 1, 1)).toDF())
    out1.select("key").as[Long].collect().toSeq shouldBe Seq(1L)
    e1.currentWatermark shouldBe 100L
    e1.lastCommittedBatch shouldBe 0L

    // incarnation 2 (simulated JVM restart): fresh object, same stateRoot
    val e2 = new TxReplayStream(spark, root)
    e2.currentWatermark shouldBe 100L // recovered, not MinValue
    e2.lastCommittedBatch shouldBe 0L

    // redelivery path: the committed batch's output is re-readable verbatim
    e2.lastEmitted.select("key").as[Long].collect().toSeq shouldBe Seq(1L)

    // tx 2's END now arrives: the doc must join against the BUFFERED batch-1
    // data (order 2 + its line), and tx 1 must NOT re-emit
    val out2 = e2.processBatch(
      Seq.empty[LeftEv].toDF(), Seq.empty[RightEv].toDF(),
      Seq(TxEnd(2, 200, 1, 1)).toDF())
      .collect()
    out2.length shouldBe 1
    val doc = out2.head
    doc.getAs[Long]("key") shouldBe 2L
    doc.getAs[Long]("commit_lsn") shouldBe 200L
    val hdr = doc.getStruct(doc.fieldIndex("row"))
    (hdr.getInt(0), hdr.getString(1)) shouldBe ((8, "addr-2"))
    doc.getSeq[org.apache.spark.sql.Row](doc.fieldIndex("lines"))
      .map(_.getLong(0)) shouldBe Seq(20L)
    e2.currentWatermark shouldBe 200L
    e2.lastCommittedBatch shouldBe 1L

    // superseded state versions are pruned: the scalar dirs (ends, emitted)
    // keep only the newest version, and each side keeps exactly its live
    // segment dirs — batch 0's append, not batch 1's empty delta
    def names(p: java.nio.file.Path): Seq[String] = {
      val ls = Files.list(p)
      try ls.toArray.map(x => x.asInstanceOf[java.nio.file.Path].getFileName.toString).toSeq.sorted
      finally ls.close()
    }
    names(Paths.get(root, "ends")) shouldBe Seq("v1")
    names(Paths.get(root, "emitted")) shouldBe Seq("v1")
    for (side <- Seq("left", "right")) {
      e2.liveSegments(side) shouldBe Map(0 -> Seq(0L))
      names(Paths.get(root, side)) shouldBe Seq("v0")
    }
  }

  test("a stale version dir beside live segments, not named by the manifest, is never read") {
    val root = Files.createTempDirectory("graft-txstale").toString
    val engine = new TxReplayStream(spark, root)
    engine.processBatch(
      Seq(LeftEv(1, "c", 1, 1, OrderRow(7, "addr-1"))).toDF(),
      Seq(RightEv(1, 10, "c", 2, 1, LineRow(101, 1, 9.99))).toDF(),
      Seq(TxEnd(1, 100, 1, 1)).toDF()).count() shouldBe 1L

    // what a crash mid-batch leaves: the next version of the left segment
    // list, written but never committed to the manifest. Its row would win
    // key 1's as-of resolution (same tx, later lsn) if it were read.
    engine.liveSegments("left") shouldBe Map(0 -> Seq(0L))
    val stale = Paths.get(root, "left", "v1")
    Seq(LeftEv(1, "u", 50, 1, OrderRow(7, "STALE"))).toDF().write.parquet(stale.toString)

    // tx 2 touches only key 1's line: the emitted doc takes its header from
    // the live segment alone
    val out = engine.processBatch(
      Seq.empty[LeftEv].toDF(),
      Seq(RightEv(1, 10, "u", 60, 2, LineRow(101, 2, 9.99))).toDF(),
      Seq(TxEnd(2, 200, 0, 1)).toDF())
      .collect()
    out.length shouldBe 1
    out.head.getStruct(out.head.fieldIndex("row")).getString(1) shouldBe "addr-1"
    Files.exists(stale) shouldBe false // and the commit pruned it
  }
}
