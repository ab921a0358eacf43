package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.tx.{LeftEv, LineRow, OrderRow, RightEv, TxEnd}

/** The per-tx key sets [[TxReplayStream]] holds on the driver, from which
  * each trigger's emission probes are built: what they save (the replay
  * scans each side of the buffer once, for the as-of joins, and never to
  * find the probes) and how far they grow (the keys of unsettled txs only).
  */
class TxReplayHeldKeysSpec extends AnyFunSuite with Matchers with AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a trigger's emitted write scans each side of the buffer once") {
    val root = Files.createTempDirectory("graft-probes").toString
    val engine = new TxReplayStream(spark, root)
    // batch 0 leaves one append segment per side; batch 1 updates both keys
    engine.processBatch(
      Seq(LeftEv(1, "c", 1, 1, OrderRow(1, "a")), LeftEv(2, "c", 2, 1, OrderRow(2, "b"))).toDF(),
      Seq(RightEv(1, 10, "c", 3, 1, LineRow(1, 1, 1.0)),
        RightEv(2, 20, "c", 4, 1, LineRow(2, 2, 2.0))).toDF(),
      Seq(TxEnd(1, 100, 2, 2)).toDF()).count() shouldBe 2L

    val emittedDir = s"$root/emitted/v1"
    val plans = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (find(qe.executedPlan) {
          case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
            c.outputPath.toUri.getPath == emittedDir
          case _ => false
        }.isDefined) plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      engine.processBatch(
        Seq(LeftEv(1, "u", 5, 2, OrderRow(1, "c"))).toDF(),
        Seq(RightEv(2, 21, "c", 6, 2, LineRow(2, 1, 3.0))).toDF(),
        Seq(TxEnd(2, 200, 1, 1)).toDF()).count() shouldBe 2L
      // listener calls arrive on the listener bus, after the write returns
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)

    plans.asScala.toSeq should have size 1
    // the as-of joins' scans, one per side (over all of that side's segment
    // dirs); no scan derives the probes
    val stateScans = collect(plans.peek().executedPlan) { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatMap(dirs => Seq("left", "right").filter(side => dirs.exists(_.startsWith(s"$root/$side/"))))
    stateScans.sorted shouldBe Seq("left", "right")
  }

  test("held keys cover the unsettled txs only: a stall holds them, its end frees them") {
    for (evict <- Seq(None, Some(1))) withClue(s"evictAfterBatches=$evict: ") {
      val engine = new TxReplayStream(spark,
        Files.createTempDirectory("graft-heldkeys").toString, evictAfterBatches = evict)
      engine.heldKeyCount shouldBe 0
      // tx 1 (key 1) commits; tx 2 (keys 2, 3) announces one more line than
      // arrives, so it stalls tx 3 (key 4) behind it
      engine.processBatch(
        Seq(LeftEv(1, "c", 1, 1, OrderRow(1, "a")), LeftEv(2, "c", 3, 2, OrderRow(2, "b")),
          LeftEv(3, "c", 5, 2, OrderRow(3, "c")), LeftEv(4, "c", 7, 3, OrderRow(4, "d"))).toDF(),
        Seq(RightEv(1, 10, "c", 2, 1, LineRow(1, 1, 1.0)),
          RightEv(2, 20, "c", 4, 2, LineRow(2, 2, 2.0)),
          RightEv(4, 40, "c", 8, 3, LineRow(4, 4, 4.0))).toDF(),
        Seq(TxEnd(1, 100, 1, 1), TxEnd(2, 200, 2, 2), TxEnd(3, 300, 1, 1)).toDF())
        .count() shouldBe 1L
      engine.currentWatermark shouldBe 100L
      // tx 2's keys {2, 3} and tx 3's {4}; settled tx 1's are gone
      engine.heldKeyCount shouldBe 3

      // without the timeout tx 2's missing line completes it; with it, the
      // empty batch evicts tx 2. Either way tx 3 settles and nothing is held.
      val lastLine = if (evict.isEmpty) Seq(RightEv(3, 30, "c", 6, 2, LineRow(3, 3, 3.0)))
        else Seq.empty[RightEv]
      engine.processBatch(Seq.empty[LeftEv].toDF(), lastLine.toDF(), Seq.empty[TxEnd].toDF())
        .count() shouldBe (if (evict.isEmpty) 3L else 1L)
      engine.currentWatermark shouldBe 300L
      engine.evictedTxIds shouldBe evict.map(_ => 2L).toSeq
      engine.heldKeyCount shouldBe 0
    }
  }
}
