package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming.TxReplayStream
import graft.tx.{LeftEv, LineRow, OrderRow, RightEv, TxEnd}

/** Generated code compiles once per plan shape: a repeated trigger or query
  * of a shape the session already ran compiles no class. Counted with
  * Spark's own compile counter (one histogram update per Janino compile).
  */
class CodegenReuseSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def compiles[T](f: => T): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** Trigger `t`: twenty one-line transactions, one per key 1..20, each with
    * its END; keys and line ids repeat every trigger, LSNs and tx ids grow.
    */
  private def trigger(t: Int): (DataFrame, DataFrame, DataFrame) = {
    val txs = (1 to 20).map(i => (i.toLong, t * 20L + i))
    val op = if (t == 0) "c" else "u"
    (txs.map { case (k, tx) => LeftEv(k, op, tx * 10, tx, OrderRow(t, s"a$t")) }.toDF(),
      txs.map { case (k, tx) => RightEv(k, 1, op, tx * 10 + 1, tx, LineRow(t, 1, t.toDouble)) }
        .toDF(),
      txs.map { case (_, tx) => TxEnd(tx, tx * 10 + 5, 1, 1) }.toDF())
  }

  test("a third replay trigger of the same shape compiles no class") {
    spark.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe
      Sessions.CodegenCacheEntries.toString
    spark.conf.get("spark.sql.codegen.useIdInClassName") shouldBe "false"
    // compactSegments = 1: trigger 0 appends a segment to each side, every
    // later trigger compacts each side and appends none — the same plans
    // with a new watermark, new END rows and new events each time
    val engine = new TxReplayStream(spark,
      Files.createTempDirectory("graft-codegen").toString, compactSegments = 1)
    def run(t: Int): Long = compiles {
      val (l, r, e) = trigger(t)
      engine.processBatch(l, r, e).collect().length shouldBe 20
    }
    run(0)
    Seq("left", "right").foreach(side => engine.liveSegments(side) shouldBe Map(0 -> Seq(0L)))
    run(1)
    Seq("left", "right").foreach(side => engine.liveSegments(side) shouldBe Map(0 -> Seq(1L)))
    run(2) shouldBe 0L
    engine.currentWatermark shouldBe 605L // tx 60, the last of trigger 2, emitted
  }

  test("a run of q_tx_replay_orders planned as an earlier run compiles no class") {
    // AQE picks a join from whichever stages finished first, so runs of one
    // query can plan a join differently (seen: sort-merge on a cold run,
    // broadcast on warm ones); each plan variant compiles once
    val seen = scala.collection.mutable.Set.empty[String]
    var repeats = 0
    for (_ <- 1 to 4) {
      val df = SparkEntry.queries("q_tx_replay_orders")(spark, "/root/testdata/sf0.01")
      val n = compiles(df.collect())
      val plan = "\\d+".r.replaceAllIn(df.queryExecution.executedPlan.toString, "N")
      if (seen(plan)) {
        repeats += 1
        withClue(s"a repeated plan:\n$plan\n") { n shouldBe 0L }
      }
      seen += plan
      spark.catalog.clearCache()
    }
    repeats should be > 0
  }
}
