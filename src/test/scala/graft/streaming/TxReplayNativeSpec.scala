package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.tx.{LeftEv, LineRow, OrderRow, RightEv, TxEnd, TxReplay}

/** Unified wire row for feeding the native engine through one MemoryStream
  * (the attach-style discriminated union; unused fields null/defaulted).
  */
case class NativeEv(stream: String, key: Long, line_id: Long, op: String,
                    lsn: Long, tx_id: Long, orow: OrderRow, lrow: LineRow,
                    commit_lsn: Long, expected_left: Long, expected_right: Long)

/** The streaming-native tx replay ([[TxReplayNative]], design (b)) must
  * produce the same emission sequence as the batch replay oracle — through
  * REAL micro-batches (MemoryStream + processAllAvailable per batch), with
  * state in the RocksDB state store as `transformWithState` requires.
  * Scenarios mirror the reference's PurchaseOrderJoinerIT coverage the same
  * way TxReplaySpec does for the batch engine.
  */
class TxReplayNativeSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withRocksDb[T](f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def toNative(l: Seq[LeftEv], r: Seq[RightEv], e: Seq[TxEnd]): Seq[NativeEv] =
    l.map(x => NativeEv("l", x.key, -1L, x.op, x.lsn, x.tx_id, x.row, null, -1L, -1L, -1L)) ++
    r.map(x => NativeEv("r", x.key, x.line_id, x.op, x.lsn, x.tx_id, null, x.row, -1L, -1L, -1L)) ++
    e.map(x => NativeEv("t", -1L, -1L, null, -1L, x.tx_id, null, null,
      x.commit_lsn, x.expected_left, x.expected_right))

  /** Drive the native engine over the given micro-batches; returns the doc
    * rows each micro-batch emitted (cross-KEY order within a batch is not
    * defined — stage 4 is key-parallel, like any keyed operator at
    * parallelism > 1; per-key commit order and cross-batch order are).
    */
  private def runNative(name: String,
                        batches: Seq[Seq[NativeEv]]): Seq[Seq[Row]] = withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[NativeEv]
    val df = in.toDF()
    val left = df.filter(col("stream") === "l")
      .select(col("key"), col("op"), col("lsn"), col("tx_id"), col("orow").as("row"))
    val right = df.filter(col("stream") === "r")
      .select(col("key"), col("line_id"), col("op"), col("lsn"), col("tx_id"),
        col("lrow").as("row"))
    val ends = df.filter(col("stream") === "t")
      .select(col("tx_id"), col("commit_lsn"), col("expected_left"), col("expected_right"))
    val q = TxReplayNative.docs(left, right, ends)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory(s"graft-$name").toString)
      .start()
    try {
      var seen = 0
      batches.map { b =>
        if (b.nonEmpty) in.addData(b)
        q.processAllAvailable()
        val all = spark.table(name).collect().toSeq
        val fresh = all.drop(seen)
        seen = all.size
        fresh
      }
    } finally q.stop()
  }

  private def docKey(r: Row): (Long, Long, String, Seq[(Long, Int)], Boolean) = (
    r.getAs[Long]("key"),
    r.getAs[Long]("commit_lsn"),
    r.getStruct(r.fieldIndex("row")).toString,
    Option(r.getSeq[Row](r.fieldIndex("lines")))
      .map(_.map(l => (l.getLong(0), l.getStruct(1).getInt(0))))
      .getOrElse(Seq.empty),
    r.getAs[Boolean]("deleted"))

  private def lines(r: Row): Seq[(Long, Int, Int, Double)] =
    r.getSeq[Row](r.fieldIndex("lines")).map { l =>
      val row = l.getStruct(l.fieldIndex("row"))
      (l.getLong(l.fieldIndex("line_id")), row.getInt(0), row.getInt(1), row.getDouble(2))
    }

  private def header(r: Row): (Int, String) = {
    val h = r.getStruct(r.fieldIndex("row"))
    (h.getInt(0), h.getString(1))
  }

  private val dummyLine = LineRow(-1, -1, -1)

  // ---- reference IT scenario 1 through real micro-batches, one tx each ----
  test("insert, update+add, delete lines — one doc per tx across micro-batches") {
    val out = runNative("native_s1", Seq(
      toNative(
        Seq(LeftEv(10001, "c", 1, 1, OrderRow(1001, "123 Main St"))),
        Seq(RightEv(10001, 1, "c", 2, 1, LineRow(101, 2, 19.99)),
            RightEv(10001, 2, "c", 3, 1, LineRow(102, 1, 49.99))),
        Seq(TxEnd(1, 100, 1, 2))),
      toNative(
        Seq(LeftEv(10001, "u", 12, 2, OrderRow(1001, "456 Oak Ave"))),
        Seq(RightEv(10001, 3, "c", 11, 2, LineRow(103, 3, 29.99))),
        Seq(TxEnd(2, 200, 1, 1))),
      toNative(
        Seq.empty,
        Seq(RightEv(10001, 1, "d", 21, 3, dummyLine),
            RightEv(10001, 2, "d", 22, 3, dummyLine)),
        Seq(TxEnd(3, 300, 0, 2))))).flatten

    out.length shouldBe 3 // assertDrained: one doc per tx, nothing extra
    val sorted = out.sortBy(_.getAs[Long]("commit_lsn"))
    header(sorted(0)) shouldBe ((1001, "123 Main St"))
    lines(sorted(0)) shouldBe Seq((1L, 101, 2, 19.99), (2L, 102, 1, 49.99))
    sorted(0).getAs[Boolean]("deleted") shouldBe false
    header(sorted(1)) shouldBe ((1001, "456 Oak Ave"))
    lines(sorted(1)) shouldBe Seq((1L, 101, 2, 19.99), (2L, 102, 1, 49.99), (3L, 103, 3, 29.99))
    header(sorted(2)) shouldBe ((1001, "456 Oak Ave"))
    lines(sorted(2)) shouldBe Seq((3L, 103, 3, 29.99))
  }

  // ---- scenario 2: interleaved txs, commit order, END separated ----
  test("interleaved transactions: emission follows commit order, ENDs in later batches") {
    // tx A (id 1) starts first but commits SECOND; all data arrives in batch
    // 1, ENDs arrive commit-ordered across batches 2 and 3
    val dataBatch = toNative(
      Seq(LeftEv(1, "c", 1, 1, OrderRow(11, "a1")),
          LeftEv(2, "c", 2, 2, OrderRow(22, "a2"))),
      Seq(RightEv(1, 1, "c", 3, 1, LineRow(1, 1, 1.0)),
          RightEv(2, 1, "c", 4, 2, LineRow(2, 2, 2.0))),
      Seq.empty)
    val out = runNative("native_s2", Seq(
      dataBatch,
      toNative(Seq.empty, Seq.empty, Seq(TxEnd(2, 100, 1, 1))), // B commits first
      toNative(Seq.empty, Seq.empty, Seq(TxEnd(1, 200, 1, 1)))))
    out(0) shouldBe empty // no END yet — nothing may emit
    // B's doc emits the batch its END arrives, A's the batch after
    out(1).map(r => (r.getAs[Long]("key"), r.getAs[Long]("commit_lsn"))) shouldBe Seq((2L, 100L))
    out(2).map(r => (r.getAs[Long]("key"), r.getAs[Long]("commit_lsn"))) shouldBe Seq((1L, 200L))
  }

  // ---- scenario 4: contiguity stall ----
  test("an incomplete transaction stalls all later transactions until it completes") {
    val b1 = toNative(
      Seq(LeftEv(1, "c", 1, 1, OrderRow(1, "a")),
          LeftEv(2, "c", 10, 2, OrderRow(2, "b"))),
      Seq(RightEv(2, 1, "c", 11, 2, LineRow(1, 1, 1.0))),
      // tx1 announces 1 left + 1 right but its right event is missing: tx2
      // (commit 200 > 100) is complete but must NOT emit
      Seq(TxEnd(1, 100, 1, 1), TxEnd(2, 200, 1, 1)))
    val b2 = toNative( // the straggler arrives → both emit, in commit order
      Seq.empty, Seq(RightEv(1, 1, "c", 2, 1, LineRow(9, 9, 9.0))), Seq.empty)

    val out = runNative("native_s4", Seq(b1, b2))
    out(0) shouldBe empty // tx2 is complete but must stall behind tx1
    out(1).map(_.getAs[Long]("commit_lsn")).sorted shouldBe Seq(100L, 200L)
  }

  // ---- tombstone ----
  test("left delete emits a tombstone doc") {
    val out = runNative("native_tomb", Seq(
      toNative(
        Seq(LeftEv(5, "c", 1, 1, OrderRow(5, "x"))),
        Seq(RightEv(5, 1, "c", 2, 1, LineRow(1, 1, 1.0))),
        Seq(TxEnd(1, 100, 1, 1))),
      toNative(
        Seq(LeftEv(5, "d", 10, 2, OrderRow(-1, null))),
        Seq.empty,
        Seq(TxEnd(2, 200, 1, 0))))).flatten
    out.length shouldBe 2
    val del = out.find(_.getAs[Long]("commit_lsn") == 200L).get
    del.getAs[Boolean]("deleted") shouldBe true
  }

  // ---- bulk transaction: one key set far larger than any other ----
  test("bulk transaction: tens of thousands of keys flush once each and state drains") {
    val nKeys = 50000
    // tx 1: bulk insert touching every key (one header + one line each —
    // INNER semantics need a line for a doc) — its whole key set rides one
    // complete signal through the sequencer; tx 2: a small follow-up update
    // proving the release left no key memory behind (nothing re-flushes
    // from tx 1)
    val b1 = toNative(
      (1L to nKeys).map(k => LeftEv(k, "c", k, 1, OrderRow(k.toInt, "bulk"))),
      (1L to nKeys).map(k => RightEv(k, 1, "c", nKeys + k, 1, LineRow(1, 1, 1.0))),
      Seq(TxEnd(1, 1000000, nKeys.toLong, nKeys.toLong)))
    val b2 = toNative(
      Seq(LeftEv(7, "u", 2L * nKeys + 1L, 2, OrderRow(7, "after"))),
      Seq.empty,
      Seq(TxEnd(2, 1000100, 1, 0)))
    val out = runNative("native_bulk", Seq(b1, b2))
    out(0).size shouldBe nKeys // one doc per key for the bulk tx
    out(0).map(_.getAs[Long]("key")).distinct.size shouldBe nKeys
    out(0).foreach(_.getAs[Long]("commit_lsn") shouldBe 1000000L)
    // the follow-up releases exactly its own key — nothing replays from tx 1
    out(1).map(r => (r.getAs[Long]("key"), r.getAs[Long]("commit_lsn"))) shouldBe
      Seq((7L, 1000100L))
  }

  // ---- at-least-once transport: a duplicate after its tx released ----
  test("a redelivered event of a released transaction re-emits nothing") {
    val b1 = toNative(
      Seq(LeftEv(1, "c", 1, 1, OrderRow(1, "a"))),
      Seq(RightEv(1, 1, "c", 2, 1, LineRow(1, 1, 1.0))),
      Seq(TxEnd(1, 100, 1, 1)))
    val b2 = toNative( // duplicate of tx 1's left event, after its release
      Seq(LeftEv(1, "c", 1, 1, OrderRow(1, "a"))), Seq.empty, Seq.empty)
    val b3 = toNative(
      Seq(LeftEv(1, "u", 10, 2, OrderRow(1, "b"))), Seq.empty,
      Seq(TxEnd(2, 200, 1, 0)))
    val out = runNative("native_redelivered", Seq(b1, b2, b3))
    out(0).map(_.getAs[Long]("commit_lsn")) shouldBe Seq(100L)
    out(1) shouldBe empty // never re-announced, so never re-released
    out(2).map(r => (r.getAs[Long]("key"), r.getAs[Long]("commit_lsn"))) shouldBe
      Seq((1L, 200L))
    header(out(2).head) shouldBe ((1, "b")) // tx 2 applied, the duplicate not
  }

  // ---- randomized equivalence vs the one-shot batch replay ----
  test("random histories through random micro-batch slicings equal the one-shot replay") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
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
            else if (rnd.nextInt(5) == 0) { left += LeftEv(key, "d", lsn, tx, OrderRow(-1, null)); inserted -= key }
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
      val (l, r, e) = (left.result(), right.result(), ends.result())

      val oneShot = TxReplay.replay(l.toDF(), r.toDF(), e.toDF())
        .collect().map(docKey).toSet

      // random slicing; ENDs commit-ordered across batches (the transport
      // guarantee), data events anywhere
      val lS = l.groupBy(_ => rnd.nextInt(3))
      val rS = r.groupBy(_ => rnd.nextInt(3))
      var endBatch = 0
      val eS = e.sortBy(_.commit_lsn).map { end =>
        endBatch = math.max(endBatch, rnd.nextInt(3))
        end -> endBatch
      }.groupMap(_._2)(_._1)
      val batches = (0 until 3).map(b => toNative(
        lS.getOrElse(b, Seq.empty), rS.getOrElse(b, Seq.empty),
        eS.getOrElse(b, Seq.empty)))

      val streamed = runNative(s"native_eq_$seed", batches).flatten.map(docKey)
      withClue(s"seed=$seed duplicate-free: ") {
        streamed.distinct.size shouldBe streamed.size
      }
      withClue(s"seed=$seed native == one-shot replay: ") {
        streamed.toSet shouldBe oneShot
      }
    }
  }
}
