package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.tx.{LeftEv, LineRow, OrderRow, RightEv, TxEnd, TxReplay}

/** The tx dimension [[TxReplayStream]] holds on the driver: END rows, per-tx
  * counts and evicted ids. Pins what holding it there buys (a trigger's tx
  * bookkeeping shuffles nothing and rereads no state dir, and no batch
  * leaves a cached frame behind) and what it must not cost (a fresh engine
  * over the same state root resumes with exactly the held state).
  */
class TxReplayDriverStateSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cacheIsEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("no batch leaves a cached frame behind, with and without eviction") {
    spark.catalog.clearCache()
    for (evict <- Seq(None, Some(1))) {
      val engine = new TxReplayStream(spark,
        Files.createTempDirectory("graft-txcache").toString, compactSegments = 2,
        evictAfterBatches = evict)
      // tx 2 is announced with one more line than arrives before the last
      // batch, so it stalls tx 3 and tx 4; with the timeout on it is evicted
      // at batch 1 and the later batches run with a non-empty evicted list.
      // Buckets compact from batch 2 on.
      val batches = Seq(
        (Seq(LeftEv(1, "c", 1, 1, OrderRow(1, "a")), LeftEv(2, "c", 3, 2, OrderRow(2, "b"))),
          Seq(RightEv(1, 10, "c", 2, 1, LineRow(1, 1, 1.0)),
            RightEv(2, 20, "c", 4, 2, LineRow(2, 2, 2.0))),
          Seq(TxEnd(1, 100, 1, 1), TxEnd(2, 200, 1, 2))),
        (Seq(LeftEv(1, "u", 5, 3, OrderRow(1, "c"))), Seq.empty[RightEv],
          Seq(TxEnd(3, 300, 1, 0))),
        (Seq.empty[LeftEv], Seq.empty[RightEv], Seq.empty[TxEnd]),
        (Seq(LeftEv(2, "u", 7, 4, OrderRow(2, "d"))),
          Seq(RightEv(2, 21, "c", 8, 4, LineRow(2, 1, 3.0))),
          Seq(TxEnd(4, 400, 1, 1))),
        (Seq.empty[LeftEv], Seq(RightEv(2, 22, "c", 9, 2, LineRow(2, 9, 9.0))),
          Seq.empty[TxEnd]))
      batches.zipWithIndex.foreach { case ((l, r, e), b) =>
        engine.processBatch(l.toDF(), r.toDF(), e.toDF()).collect()
        withClue(s"evictAfterBatches=$evict, after batch $b: ") {
          cacheIsEmpty shouldBe true
        }
      }
      // without the timeout, tx 2's straggling line completes it last
      engine.evictedTxIds shouldBe evict.map(_ => 2L).toSeq
      engine.currentWatermark shouldBe 400L
    }
  }

  /** Every SQL plan node, cached plans included. */
  private def nodes(p: SparkPlanInfo): Iterator[SparkPlanInfo] =
    Iterator(p) ++ p.children.iterator.flatMap(nodes)

  test("a trigger that brings only a stalling END shuffles nothing and rereads no tx state") {
    val root = Files.createTempDirectory("graft-txdim").toString
    val engine = new TxReplayStream(spark, root)
    // batch 0: tx 1 commits and emits; tx 2's events arrive without an END
    engine.processBatch(
      Seq(LeftEv(1, "c", 1, 1, OrderRow(1, "a")), LeftEv(2, "c", 3, 2, OrderRow(2, "b"))).toDF(),
      Seq(RightEv(1, 10, "c", 2, 1, LineRow(1, 1, 1.0)),
        RightEv(2, 20, "c", 4, 2, LineRow(2, 2, 2.0))).toDF(),
      Seq(TxEnd(1, 100, 1, 1)).toDF()).count() shouldBe 1L
    engine.currentWatermark shouldBe 100L

    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add(e)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = events.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = events.add(e)
    }
    val marker = s"drain-${System.nanoTime()}"
    sc.addSparkListener(listener)
    try {
      // batch 1: tx 2's END announces one more line than arrived, so the
      // watermark stays at tx 1
      engine.processBatch(Seq.empty[LeftEv].toDF(), Seq.empty[RightEv].toDF(),
        Seq(TxEnd(2, 200, 1, 2)).toDF()).collect() shouldBe empty
      // a marker job drains the listener bus: events arrive in order
      sc.setJobDescription(marker)
      val markerJob = try {
        sc.parallelize(Seq(1), 1).count()
        events.asScala.collect { case j: SparkListenerJobStart
          if j.properties.getProperty("spark.job.description") == marker => j.jobId }
      } finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def drained = events.asScala.exists {
        case j: SparkListenerJobEnd => markerJob.toSeq.contains(j.jobId)
        case _ => false
      }
      while (!drained && System.nanoTime() < deadline) Thread.sleep(20)
      drained shouldBe true
    } finally sc.removeSparkListener(listener)
    engine.currentWatermark shouldBe 100L

    val seen = events.asScala.toSeq
    val shuffleBytes = seen.collect { case t: SparkListenerTaskEnd if t.taskMetrics != null =>
      t.taskMetrics.shuffleWriteMetrics.bytesWritten
    }.sum
    val txStateScans = seen.collect { case s: SparkListenerSQLExecutionStart => s }
      .flatMap(s => nodes(s.sparkPlanInfo))
      .filter(_.nodeName.startsWith("Scan"))
      .flatMap(_.metadata.get("Location"))
      .filter(loc => loc.contains(s"$root/ends/") || loc.contains(s"$root/counts/"))
    shuffleBytes shouldBe 0L
    txStateScans shouldBe empty
  }

  private def docKey(r: Row): (Long, Long, String, Seq[(Long, Int)], Boolean) = (
    r.getAs[Long]("key"),
    r.getAs[Long]("commit_lsn"),
    r.getStruct(r.fieldIndex("row")).toString,
    r.getSeq[Row](r.fieldIndex("lines")).map(l => (l.getLong(0), l.getStruct(1).getInt(0))),
    r.getAs[Boolean]("deleted"))

  private val fuzzSeeds = sys.env.get("GRAFT_FUZZ_SEEDS").map(_.toInt).getOrElse(5)

  test("random histories: a restarted engine equals the uninterrupted one and the one-shot replay") {
    for (seed <- 31 until 31 + fuzzSeeds; evict <- Seq(false, true)) {
      val run0 = seed * 2 + (if (evict) 1 else 0)
      val rnd = new scala.util.Random(run0)
      val nKeys = 1 + rnd.nextInt(3)
      val nTx = 3 + rnd.nextInt(4)
      var lsn = 0L
      val left = Seq.newBuilder[LeftEv]
      val right = Seq.newBuilder[RightEv]
      val ends = Seq.newBuilder[TxEnd]
      val inserted = scala.collection.mutable.Set[Long]()
      for (tx <- 1 to nTx) {
        var nl = 0L; var nr = 0L
        for (key <- 1L to nKeys) {
          if (rnd.nextBoolean()) {
            lsn += 1
            if (!inserted(key)) { left += LeftEv(key, "c", lsn, tx, OrderRow(key.toInt, s"a$tx")); inserted += key }
            else if (rnd.nextInt(5) == 0) {
              left += LeftEv(key, "d", lsn, tx, OrderRow(-1, null)); inserted -= key
            }
            else left += LeftEv(key, "u", lsn, tx, OrderRow(key.toInt, s"a$tx"))
            nl += 1
          }
          if (inserted(key)) for (_ <- 1 to rnd.nextInt(3)) {
            lsn += 1
            val lid = rnd.nextInt(4) + 1
            right += RightEv(key, lid, if (rnd.nextInt(4) == 0) "d" else "c", lsn, tx,
              LineRow(lid, tx, tx * 1.0))
            nr += 1
          }
        }
        ends += TxEnd(tx, 1000L + ((tx * 7) % nTx) * 10 + tx, nl, nr)
      }
      val (l0, r0, e) = (left.result(), right.result(), ends.result())

      // with the timeout on, one tx loses an event in transit (its END still
      // announces the full counts) and must behave as if it never existed
      val withEvents = (l0.map(_.tx_id) ++ r0.map(_.tx_id)).distinct
      val crippled = if (evict && withEvents.nonEmpty) Some(withEvents(rnd.nextInt(withEvents.size)))
        else None
      val (l, r) = crippled.fold((l0, r0)) { c =>
        l0.find(_.tx_id == c) match {
          case Some(ev) if r0.forall(_.tx_id != c) || rnd.nextBoolean() => (l0.filterNot(_ == ev), r0)
          case _ => (l0, r0.filterNot(_ == r0.find(_.tx_id == c).get))
        }
      }
      val oneShot = TxReplay.replay(
        l0.filterNot(ev => crippled.contains(ev.tx_id)).toDF(),
        r0.filterNot(ev => crippled.contains(ev.tx_id)).toDF(),
        e.filterNot(end => crippled.contains(end.tx_id)).toDF())
        .collect().map(docKey).toSeq.sortBy(_.toString)

      // random slicing; ENDs keep commit-LSN order across batches. With the
      // timeout on, trailing empty batches age the crippled tx out.
      val nBatches = if (evict) 7 else 3
      val lSlices = l.groupBy(_ => rnd.nextInt(3))
      val rSlices = r.groupBy(_ => rnd.nextInt(3))
      var endBatch = 0
      val eSlices = e.sortBy(_.commit_lsn).map { end =>
        endBatch = math.max(endBatch, rnd.nextInt(3))
        end -> endBatch
      }.groupMap(_._2)(_._1)
      def frames(b: Int): (DataFrame, DataFrame, DataFrame) = (
        lSlices.getOrElse(b, Seq.empty).toDF(),
        rSlices.getOrElse(b, Seq.empty).toDF(),
        eSlices.getOrElse(b, Seq.empty).toDF())
      val window = if (evict) Some(3) else None

      def run(restartAt: Option[Int]): (Seq[Seq[(Long, Long, String, Seq[(Long, Int)], Boolean)]], Seq[Long]) = {
        val root = Files.createTempDirectory(s"graft-txdim-restart-$seed").toString
        var engine = new TxReplayStream(spark, root, evictAfterBatches = window)
        val out = (0 until nBatches).map { b =>
          if (restartAt.contains(b)) {
            val before = engine.evictedTxIds
            engine = new TxReplayStream(spark, root, evictAfterBatches = window)
            // the audit list loads from the committed version before any batch
            engine.evictedTxIds shouldBe before
          }
          val (lf, rf, ef) = frames(b)
          engine.processBatch(lf, rf, ef).collect().map(docKey).toSeq.sortBy(_.toString)
        }
        (out, engine.evictedTxIds)
      }
      // with the timeout on, the restart comes no later than batch 3
      val restartAt = 1 + rnd.nextInt(if (evict) 3 else nBatches - 1)
      val (straight, straightEvicted) = run(None)
      val (restarted, restartedEvicted) = run(Some(restartAt))

      withClue(s"seed=$seed evict=$evict restartAt=$restartAt: ") {
        straight.flatten.sortBy(_.toString) shouldBe oneShot
        restarted.flatten.sortBy(_.toString) shouldBe oneShot
        restartedEvicted shouldBe straightEvicted
        restartedEvicted shouldBe crippled.toSeq
        // the restarted engine loads the held state as committed, eviction
        // clocks included, so it matches batch by batch
        restarted shouldBe straight
      }
    }
  }

  test("a trigger computes each delta row once") {
    // a deliberately slow source that counts its row evaluations: however
    // many of the trigger's jobs read a delta, and however they race to
    // fill its cache, its rows are computed once
    val evals = spark.sparkContext.longAccumulator("delta row evaluations")
    val slow = udf { (k: Long) =>
      Thread.sleep(5); evals.add(1); k
    }
    def counted(df: DataFrame): DataFrame =
      df.withColumn("key", slow(col("key")))
    val engine = new TxReplayStream(spark,
      Files.createTempDirectory("graft-deltafill").toString, compactSegments = 1)
    for (t <- 0 until 3) {
      val txs = (1 to 20).map(i => (i.toLong, t * 20L + i))
      val op = if (t == 0) "c" else "u"
      evals.reset()
      engine.processBatch(
        counted(txs.map { case (k, tx) => LeftEv(k, op, tx * 10, tx, OrderRow(t, "a")) }.toDF()),
        counted(txs.map { case (k, tx) =>
          RightEv(k, 1, op, tx * 10 + 1, tx, LineRow(t, 1, 1.0)) }.toDF()),
        txs.map { case (_, tx) => TxEnd(tx, tx * 10 + 5, 1, 1) }.toDF()).count() shouldBe 20L
      withClue(s"trigger $t: ") { evals.value shouldBe 40L }
    }
  }
}
