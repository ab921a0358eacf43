package graft.tx

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

// Fixture row shapes — top-level so Spark can derive encoders.
case class OrderRow(purchaser: Int, shipping_address: String)
case class LineRow(product_id: Int, quantity: Int, price: Double)
case class LeftEv(key: Long, op: String, lsn: Long, tx_id: Long, row: OrderRow)
case class RightEv(key: Long, line_id: Long, op: String, lsn: Long, tx_id: Long, row: LineRow)
case class TxEnd(tx_id: Long, commit_lsn: Long, expected_left: Long, expected_right: Long)

/** The reference's four integration-test scenarios
  * (`transactional-cdc-processing/src/test/java/dev/morling/demos/txbuffering/PurchaseOrderJoinerIT.java:140-524`)
  * re-expressed as deterministic fixture replays, plus the `assertDrained`
  * write-amplification invariant (`TestContext.java:121-128`): exactly one
  * output per (key, transaction), nothing extra.
  */
class TxReplaySpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(left: Seq[LeftEv], right: Seq[RightEv], ends: Seq[TxEnd]): Array[Row] =
    TxReplay.replay(left.toDF(), right.toDF(), ends.toDF())
      .orderBy("commit_lsn", "key").collect()

  private def lines(r: Row): Seq[(Long, Int, Int, Double)] =
    r.getSeq[Row](r.fieldIndex("lines")).map { l =>
      val row = l.getStruct(l.fieldIndex("row"))
      (l.getLong(l.fieldIndex("line_id")),
        row.getInt(0), row.getInt(1), row.getDouble(2))
    }

  private def header(r: Row): (Int, String) = {
    val h = r.getStruct(r.fieldIndex("row"))
    (h.getInt(0), h.getString(1))
  }

  private val dummyLine = LineRow(-1, -1, -1)

  // ---- Scenario 1: shouldJoinOrderWithLines (IT:140-199) ----
  // tx1: insert order + 2 lines → one doc; tx2: add line + update address in
  // one tx → one updated doc; tx3: delete 2 lines → one doc with remainder.
  test("join order with lines: insert, update+add, delete lines — one doc per tx") {
    val left = Seq(
      LeftEv(10001, "c", 1, 1, OrderRow(1001, "123 Main St")),
      LeftEv(10001, "u", 12, 2, OrderRow(1001, "456 Oak Ave")))
    val right = Seq(
      RightEv(10001, 1, "c", 2, 1, LineRow(101, 2, 19.99)),
      RightEv(10001, 2, "c", 3, 1, LineRow(102, 1, 49.99)),
      RightEv(10001, 3, "c", 11, 2, LineRow(103, 3, 29.99)),
      RightEv(10001, 1, "d", 21, 3, dummyLine),
      RightEv(10001, 2, "d", 22, 3, dummyLine))
    val ends = Seq(TxEnd(1, 100, 1, 2), TxEnd(2, 200, 1, 1), TxEnd(3, 300, 0, 2))

    val out = run(left, right, ends)
    out.length shouldBe 3 // assertDrained: one output per tx, none extra

    val Array(doc1, doc2, doc3) = out
    doc1.getAs[Long]("key") shouldBe 10001L
    doc1.getAs[Long]("commit_lsn") shouldBe 100L
    header(doc1) shouldBe ((1001, "123 Main St"))
    lines(doc1) shouldBe Seq((1L, 101, 2, 19.99), (2L, 102, 1, 49.99))
    doc1.getAs[Boolean]("deleted") shouldBe false

    header(doc2) shouldBe ((1001, "456 Oak Ave"))
    lines(doc2) shouldBe Seq((1L, 101, 2, 19.99), (2L, 102, 1, 49.99), (3L, 103, 3, 29.99))

    header(doc3) shouldBe ((1001, "456 Oak Ave"))
    lines(doc3) shouldBe Seq((3L, 103, 3, 29.99))
  }

  // ---- Scenario 2: shouldHandleInterleavedTransactions (IT:202-278) ----
  // Tx A starts first (lower event LSNs) but commits SECOND; outputs must be
  // in commit order (B then A), each transactionally complete.
  test("interleaved transactions emit in commit order, each complete") {
    val left = Seq(
      LeftEv(20001, "c", 1, 7, OrderRow(1001, "Address A")),
      LeftEv(20002, "c", 5, 8, OrderRow(1002, "Address B")))
    val right = Seq(
      RightEv(20001, 1, "c", 2, 7, LineRow(101, 1, 10.00)),
      RightEv(20001, 2, "c", 3, 7, LineRow(102, 2, 20.00)),
      RightEv(20001, 3, "c", 4, 7, LineRow(103, 3, 30.00)),
      RightEv(20002, 4, "c", 6, 8, LineRow(104, 4, 40.00)),
      RightEv(20002, 5, "c", 7, 8, LineRow(105, 5, 50.00)),
      RightEv(20002, 6, "c", 8, 8, LineRow(106, 6, 60.00)))
    // B (tx 8) commits at LSN 100, A (tx 7) at 200
    val ends = Seq(TxEnd(8, 100, 1, 3), TxEnd(7, 200, 1, 3))

    val out = run(left, right, ends)
    out.length shouldBe 2

    val Array(docB, docA) = out // ordered by commit_lsn → B first
    docB.getAs[Long]("key") shouldBe 20002L
    header(docB) shouldBe ((1002, "Address B"))
    lines(docB) shouldBe Seq((4L, 104, 4, 40.00), (5L, 105, 5, 50.00), (6L, 106, 6, 60.00))

    docA.getAs[Long]("key") shouldBe 20001L
    header(docA) shouldBe ((1001, "Address A"))
    lines(docA) shouldBe Seq((1L, 101, 1, 10.00), (2L, 102, 2, 20.00), (3L, 103, 3, 30.00))
  }

  // ---- Scenario 3: shouldAccumulateLinesAcrossMultipleTransactions (IT:281-460) ----
  // 5 sequential txs on one order → exactly 5 docs with cumulative lines.
  test("lines accumulate across five transactions — five cumulative docs") {
    val key = 30001L
    val left = Seq(
      LeftEv(key, "c", 1, 1, OrderRow(1003, "Multi-TX Address")),
      LeftEv(key, "u", 10, 2, OrderRow(1003, "Updated Multi-TX Address")))
    def l(id: Long, product: Int, qty: Int, price: Double, lsn: Long, tx: Long) =
      RightEv(key, id, "c", lsn, tx, LineRow(product, qty, price))
    val right = Seq(
      l(1, 101, 1, 10.00, 2, 1), l(2, 102, 1, 20.00, 3, 1), l(3, 103, 1, 30.00, 4, 1),
      l(4, 104, 1, 40.00, 21, 3), l(5, 105, 1, 50.00, 22, 3), l(6, 106, 1, 60.00, 23, 3),
      l(7, 107, 1, 70.00, 24, 3), l(8, 108, 1, 80.00, 25, 3),
      l(9, 109, 1, 90.00, 31, 4), l(10, 101, 2, 100.00, 32, 4), l(11, 102, 2, 110.00, 33, 4),
      l(12, 103, 2, 120.00, 34, 4), l(13, 104, 2, 130.00, 35, 4),
      l(14, 105, 2, 140.00, 41, 5), l(15, 106, 2, 150.00, 42, 5), l(16, 107, 2, 160.00, 43, 5),
      l(17, 108, 2, 170.00, 44, 5), l(18, 109, 2, 180.00, 45, 5))
    val ends = Seq(
      TxEnd(1, 100, 1, 3), TxEnd(2, 200, 1, 0), TxEnd(3, 300, 0, 5),
      TxEnd(4, 400, 0, 5), TxEnd(5, 500, 0, 5))

    val out = run(left, right, ends)
    out.length shouldBe 5 // assertDrained: exactly one doc per tx

    out.map(_.getAs[Long]("commit_lsn")).toSeq shouldBe Seq(100L, 200L, 300L, 400L, 500L)
    out.map(r => lines(r).size).toSeq shouldBe Seq(3, 3, 8, 13, 18)
    header(out(0))._2 shouldBe "Multi-TX Address"
    header(out(1))._2 shouldBe "Updated Multi-TX Address" // header-only tx re-emits same lines
    lines(out(1)) shouldBe lines(out(0))
    // product 101 appears twice in doc4+ (distinct line ids, reused product id)
    lines(out(3)).count(_._2 == 101) shouldBe 2
    lines(out(4)).map(_._1) shouldBe (1L to 18L)
  }

  // ---- Scenario 4: shouldHandleDeleteOfOrderWithLines (IT:462-524) ----
  // tx1: order + 2 lines → doc; tx2: delete lines then order → ONE tombstone.
  test("delete of order with lines emits a single tombstone") {
    val key = 40001L
    val left = Seq(
      LeftEv(key, "c", 1, 1, OrderRow(1004, "Delete Test Address")),
      LeftEv(key, "d", 13, 2, OrderRow(-1, null)))
    val right = Seq(
      RightEv(key, 1, "c", 2, 1, LineRow(101, 1, 15.00)),
      RightEv(key, 2, "c", 3, 1, LineRow(102, 2, 25.00)),
      RightEv(key, 1, "d", 11, 2, dummyLine),
      RightEv(key, 2, "d", 12, 2, dummyLine))
    val ends = Seq(TxEnd(1, 100, 1, 2), TxEnd(2, 200, 1, 2))

    val out = run(left, right, ends)
    out.length shouldBe 2 // doc then tombstone, nothing else

    out(0).getAs[Boolean]("deleted") shouldBe false
    lines(out(0)) shouldBe Seq((1L, 101, 1, 15.00), (2L, 102, 2, 25.00))

    out(1).getAs[Long]("key") shouldBe key
    out(1).getAs[Boolean]("deleted") shouldBe true

    // S8/O10 tombstone encoding: deleted doc → null kafka value
    val encoded = TxReplay.encodeTombstones(
      TxReplay.replay(left.toDF(), right.toDF(), ends.toDF()))
      .orderBy("kafka_key").collect()
    encoded.count(_.isNullAt(1)) shouldBe 1
  }

  // ---- Completeness stall: an incomplete tx blocks everything after it ----
  // (WatermarkInjector.java:127-147 — the contiguity rule.)
  test("incomplete transaction stalls all later transactions") {
    val left = Seq(
      LeftEv(1, "c", 1, 1, OrderRow(1, "a")),
      LeftEv(2, "c", 10, 2, OrderRow(2, "b")),
      LeftEv(3, "c", 20, 3, OrderRow(3, "c")))
    val right = Seq(
      RightEv(1, 1, "c", 2, 1, LineRow(1, 1, 1.0)),
      RightEv(2, 2, "c", 11, 2, LineRow(2, 2, 2.0)),
      RightEv(3, 3, "c", 21, 3, LineRow(3, 3, 3.0)))
    // tx2 expects 2 right events but only 1 arrived → incomplete → tx3
    // (complete) must NOT be emitted either.
    val ends = Seq(TxEnd(1, 100, 1, 1), TxEnd(2, 200, 1, 2), TxEnd(3, 300, 1, 1))

    val out = run(left, right, ends)
    out.map(_.getAs[Long]("key")).toSeq shouldBe Seq(1L)
  }

  // ---- Randomized drained/consistency invariants (assertDrained as a property) ----
  // For seeded random histories: (a) exactly one output per (key, reachable
  // tx touching the key) — no write amplification; (b) the last non-deleted
  // doc per key equals the naive replay of the final state.
  test("randomized histories: one output per (key, tx); final doc matches naive replay") {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val nKeys = 1 + rnd.nextInt(3)
      val nTx = 2 + rnd.nextInt(4)
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
            if (!inserted(key)) {
              left += LeftEv(key, "c", lsn, tx, OrderRow(key.toInt, s"addr-$tx"))
              inserted += key
            } else left += LeftEv(key, "u", lsn, tx, OrderRow(key.toInt, s"addr-$tx"))
            nl += 1
          }
          if (inserted(key)) {
            for (line <- 1 to rnd.nextInt(3)) {
              lsn += 1
              val lineId = rnd.nextInt(4) + 1
              val op = if (rnd.nextInt(4) == 0) "d" else "c"
              right += RightEv(key, lineId, op, lsn, tx, LineRow(lineId, tx, tx * 1.5))
              nr += 1
            }
          }
        }
        ends += TxEnd(tx, tx * 100L, nl, nr)
      }
      val (l, r, e) = (left.result(), right.result(), ends.result())
      val out = TxReplay.replay(l.toDF(), r.toDF(), e.toDF())
        .orderBy("key", "commit_lsn").collect()

      // (a) one output per (key, commit_lsn) — no duplicates
      val pairs = out.map(row => (row.getAs[Long]("key"), row.getAs[Long]("commit_lsn"))).toSeq
      withClue(s"seed=$seed duplicate (key, tx) outputs: ") {
        pairs.distinct.size shouldBe pairs.size
      }

      // (b) final non-deleted doc per key == naive replay of complete history
      val lastDoc = out.groupBy(_.getAs[Long]("key")).map { case (k, rows) => k -> rows.last }
      for ((key, row) <- lastDoc if !row.getAs[Boolean]("deleted")) {
        val expectedLines = r.filter(_.key == key)
          .groupBy(_.line_id).view.mapValues(_.maxBy(ev => (ev.tx_id, ev.lsn)))
          .values.filter(_.op != "d")
          .map(ev => (ev.line_id, ev.row.product_id, ev.row.quantity, ev.row.price))
          .toSeq.sortBy(_._1)
        withClue(s"seed=$seed key=$key final lines: ") {
          lines(row) shouldBe expectedLines
        }
      }
    }
  }

  // ---- Arrival-order invariance: the heart of the LSN-ordered design ----
  // Debezium topics deliver data events in any order relative to each other
  // (poc.md's whole premise); the replay's output must be a pure function
  // of the event SET, not the arrival sequence. Shuffle the same history
  // into several arrival orders and require identical emissions.
  test("replay output is invariant to input arrival order") {
    val left = Seq(
      LeftEv(1, "c", 1, 1, OrderRow(10, "a")),
      LeftEv(2, "c", 2, 1, OrderRow(20, "b")),
      LeftEv(1, "u", 5, 2, OrderRow(10, "a2")),
      LeftEv(2, "d", 8, 3, OrderRow(20, "b")))
    val right = Seq(
      RightEv(1, 1, "c", 3, 1, LineRow(7, 1, 1.0)),
      RightEv(2, 1, "c", 4, 1, LineRow(8, 2, 2.0)),
      RightEv(1, 2, "c", 6, 2, LineRow(9, 3, 3.0)),
      RightEv(1, 1, "d", 7, 2, LineRow(7, 1, 1.0)),
      RightEv(2, 1, "u", 9, 3, LineRow(8, 5, 2.5)))
    val ends = Seq(TxEnd(1, 100, 2, 2), TxEnd(2, 200, 1, 2), TxEnd(3, 300, 1, 1))

    def canonical(l: Seq[LeftEv], r: Seq[RightEv], e: Seq[TxEnd]): Seq[String] =
      TxReplay.replay(l.toDF(), r.toDF(), e.toDF())
        .orderBy("commit_lsn", "key").collect().map(_.toString).toSeq

    val baseline = canonical(left, right, ends)
    baseline should not be empty
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      withClue(s"seed=$seed: ") {
        canonical(rnd.shuffle(left), rnd.shuffle(right), rnd.shuffle(ends)) shouldBe baseline
      }
    }
  }

  // ---- Degenerate inputs: the engine must return empty, never throw ----
  // The reference emits only from processed record PAIRS
  // (OrderWithLines.updateFromDataChangeEventPair): a brand-new order whose
  // transaction carries no line events produces no pairs and therefore NO
  // document — but it does not stall anything, and once ANY later
  // transaction touches the key the buffered header becomes the as-of
  // state (left_lsn < probe_lsn) and emission resumes. Pinned explicitly
  // because downstream consumers (e.g. the CDC→search composition) must
  // not expect a doc per committed tx.
  test("a new order with no line events emits nothing until a later tx touches the key") {
    val left = Seq(LeftEv(1, "c", 1, 1, OrderRow(7, "addr-a")))
    val ends1 = Seq(TxEnd(1, 100, 1, 0))
    run(left, Seq.empty, ends1) shouldBe empty

    // tx 2 adds the first line → ONE doc, header from tx 1, both txs settled
    val right = Seq(RightEv(1, 10, "c", 2, 2, LineRow(5, 1, 9.99)))
    val out = run(left, right, ends1 ++ Seq(TxEnd(2, 200, 0, 1)))
    out.map(r => (r.getLong(r.fieldIndex("key")),
      r.getLong(r.fieldIndex("commit_lsn")))) shouldBe Array((1L, 200L))
    header(out(0)) shouldBe ((7, "addr-a"))
    lines(out(0)) shouldBe Seq((10L, 5, 1, 9.99))
  }

  test("degenerate inputs: no ENDs, stalled watermark, floor above history, empty streams") {
    val left = Seq(LeftEv(1, "c", 1, 1, OrderRow(7, "addr")))
    val right = Seq(RightEv(1, 1, "c", 2, 1, LineRow(1, 1, 1.0)))

    // no END events: every event stays buffered, nothing emits
    run(left, right, Seq.empty) shouldBe empty
    // first tx incomplete: the contiguity stall holds back everything
    run(left, right, Seq(TxEnd(1, 100, 2, 1))) shouldBe empty
    // fully empty event streams with an announced empty tx: one emission
    // domain but no keys changed → nothing (and no crash on empty aggs)
    run(Seq.empty, Seq.empty, Seq(TxEnd(1, 100, 0, 0))) shouldBe empty
  }
}
