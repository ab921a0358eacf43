package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.tx.{LeftEv, LineRow, OrderRow, RightEv, TxEnd, TxReplay}

/** Pins the incremental-state contract of [[TxReplayStream]]: bytes written
  * per micro-batch scale with the batch's DELTA (new events, one append
  * segment per side), NOT with the size of the buffered state — the parquet
  * analogue of the reference's O(delta) ListState updates
  * (`TxAware…Operator.java:432-444`). Also proves the deferred compaction
  * is sound: documents emitted later must still resolve as-of history that
  * lives in segments no recent batch rewrote, which requires the END
  * retention to cover them.
  */
class TxReplayIncrementalStateSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Every regular file under `root` with its size — the inventory diffed
    * across batches to measure what a batch actually wrote.
    */
  private def inventory(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Map.empty
    val walk = Files.walk(p)
    try walk.toArray.map(_.asInstanceOf[Path])
      .filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
    finally walk.close()
  }

  private def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (f, sz) if !before.contains(f) => sz }.sum

  test("a small batch appends one delta segment per side; bytes scale with the delta") {
    val root = Files.createTempDirectory("graft-txincr").toString
    val engine = new TxReplayStream(spark, root)

    // batch 0: a WIDE load — 1000 keys, all in tx 1, which commits. This
    // is the "large accumulated state" baseline, large enough that its rows
    // and not the files' fixed footers dominate what it writes.
    val inv0 = inventory(root)
    val out0 = engine.processBatch(
      (1L to 1000L).map(k => LeftEv(k, "c", k, 1, OrderRow(k.toInt, s"addr-$k"))).toDF(),
      (1L to 1000L).map(k => RightEv(k, k * 10, "c", 1000 + k, 1, LineRow(k.toInt, 1, 1.0))).toDF(),
      Seq(TxEnd(1, 100, 1000, 1000)).toDF())
    out0.count() shouldBe 1000
    val inv1 = inventory(root)
    val bytesWide = newBytes(inv0, inv1)

    // batch 1: a 1-key delta — key 5000 in tx 2, which commits.
    val out1 = engine.processBatch(
      Seq(LeftEv(5000, "c", 200, 2, OrderRow(5000, "addr-new"))).toDF(),
      Seq(RightEv(5000, 1, "c", 201, 2, LineRow(1, 1, 2.0))).toDF(),
      Seq(TxEnd(2, 300, 1, 1)).toDF())
    out1.select("key").as[Long].collect().toSeq shouldBe Seq(5000L)
    val inv2 = inventory(root)
    val bytesDelta = newBytes(inv1, inv2)

    // one new segment per side; the batch-0 segments holding the 1000-key
    // state were not rewritten
    Seq("left", "right").foreach(side => engine.liveSegments(side) shouldBe Map(0 -> Seq(0L, 1L)))
    inv2.keys.filter(_.contains("/left/v0/")) shouldBe inv1.keys.filter(_.contains("/left/v0/"))

    // and the bytes written are delta-scale, not state-scale: even with
    // fixed parquet footer overhead on the small outputs (emitted, ends,
    // counts, one segment per side), the 1-key batch must cost well under
    // half the 1000-key load
    bytesDelta.toDouble should be < bytesWide.toDouble / 2

    // batch 2: an END for a tx whose DATA lives entirely in batch-0 state —
    // tx 3 updates key 7 (its segment was NOT rewritten by batch 1), so the
    // emitted doc's as-of resolution must read not-yet-compacted history
    // from an old segment and its END enrichment must still find tx 1
    val out2 = engine.processBatch(
      Seq(LeftEv(7, "u", 400, 3, OrderRow(7, "addr-7b"))).toDF(),
      Seq.empty[RightEv].toDF(),
      Seq(TxEnd(3, 500, 1, 0)).toDF())
      .collect()
    out2.length shouldBe 1
    out2.head.getAs[Long]("key") shouldBe 7L
    out2.head.getAs[Long]("commit_lsn") shouldBe 500L
    // the doc joins the NEW header with the OLD (batch-0 segment) line
    // history of key 7
    out2.head.getSeq[org.apache.spark.sql.Row](out2.head.fieldIndex("lines"))
      .map(_.getLong(0)) shouldBe Seq(70L)
    engine.currentWatermark shouldBe 500L
  }

  test("state reads launch no listing or schema-inference job, even past 32 segment dirs") {
    val root = Files.createTempDirectory("graft-txreads").toString
    val engine = new TxReplayStream(spark, root, compactSegments = 8)
    val keys = 1L to 64L
    // batch b (tx b+1) rewrites every key's header and its line 1; each
    // batch appends one segment per side (no compaction before 8)
    def batch(b: Int) = {
      val base = b * 10000L
      (keys.map(k => LeftEv(k, if (b == 0) "c" else "u", base + k, b + 1,
          OrderRow(k.toInt, s"addr-$k-$b"))),
        keys.map(k => RightEv(k, k * 10, if (b == 0) "c" else "u", base + 1000 + k, b + 1,
          LineRow(k.toInt, b + 1, b.toDouble))),
        Seq(TxEnd(b + 1, base + 9999, keys.size, keys.size)))
    }
    val batches = (0 to 3).map(batch)
    batches.take(3).foreach { case (l, r, e) =>
      engine.processBatch(l.toDF(), r.toDF(), e.toDF()).count()
    }
    // the engine's own dir count: one list per side, three segments each
    Seq("left", "right").foreach(side => engine.liveSegments(side)(0) should have size 3)

    val (l3, r3, e3) = batches(3)
    var out: Array[org.apache.spark.sql.Row] = Array.empty
    val jobs = ReadJobs.jobsOf(spark) {
      out = engine.processBatch(l3.toDF(), r3.toDF(), e3.toDF()).collect()
    }
    ReadJobs.listings(jobs) shouldBe empty
    ReadJobs.inferences(jobs) shouldBe empty

    // the emitted rows equal a one-shot replay of the whole history, cut to
    // the last transaction
    val expected = TxReplay.replay(
        batches.flatMap(_._1).toDF(), batches.flatMap(_._2).toDF(),
        batches.flatMap(_._3).toDF())
      .filter($"commit_lsn" === 39999L).collect()
    out.length shouldBe keys.size
    out.sortBy(_.getAs[Long]("key")).toSeq shouldBe expected.sortBy(_.getAs[Long]("key")).toSeq

    // the reader itself, past the 32 dirs at which Spark's file index would
    // list in parallel: 40 one-row segment dirs, read with no job at all
    val base = Files.createTempDirectory("graft-txreads-many")
    val dirs = (0 until 40).map { i =>
      val d = base.resolve(s"v$i").toString
      Seq(TxEnd(i, i * 10L, 1, 1)).toDF().write.parquet(d)
      d
    }
    var many: DataFrame = null
    ReadJobs.jobsOf(spark) {
      many = SegmentStore.readDirs(spark, dirs, Seq.empty[TxEnd].toDF().schema)
    } shouldBe empty
    many.as[TxEnd].collect().map(_.tx_id).sorted.toSeq shouldBe (0L until 40L)
  }

  test("the state reader skips _ and . files and reads the rows spark.read.parquet reads") {
    val dir = Files.createTempDirectory("graft-txread").resolve("v0").toString
    // one write leaves _SUCCESS, a part file and its .part-*.crc checksum
    Seq(TxEnd(1, 100, 1, 1), TxEnd(2, 200, 0, 3)).toDF().coalesce(1)
      .write.parquet(dir)
    val names = {
      val ls = Files.list(Paths.get(dir))
      try ls.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSeq finally ls.close()
    }
    names should contain("_SUCCESS")
    names.exists(n => n.startsWith(".part-") && n.endsWith(".crc")) shouldBe true
    names.count(_.startsWith("part-")) shouldBe 1

    val byReader = SegmentStore.readDirs(spark, Seq(dir), Seq.empty[TxEnd].toDF().schema)
    val bySpark = spark.read.parquet(dir)
    byReader.schema shouldBe bySpark.schema
    byReader.collect().toSeq.sortBy(_.getLong(0)) shouldBe
      bySpark.collect().toSeq.sortBy(_.getLong(0))
  }
}
