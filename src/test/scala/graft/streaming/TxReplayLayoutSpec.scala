package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.tx.{LeftEv, LineRow, OrderRow, RightEv, TxEnd, TxReplay}

/** The state layout of [[TxReplayStream]]: one segment list per side, the
  * tx dimension's dirs written by the driver, and a MANIFEST that names its
  * layout. Pins the files a trigger writes, that the tx dimension costs no
  * write job and reloads on restart, and that another layout's state root
  * is refused.
  */
class TxReplayLayoutSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def names(dir: Path): Seq[String] =
    if (!Files.exists(dir)) Nil
    else {
      val ls = Files.list(dir)
      try ls.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSeq.sorted
      finally ls.close()
    }

  /** The parquet files a reader scans in `dir` (no `_`/`.` files). */
  private def dataFiles(dir: Path): Seq[String] =
    names(dir).filterNot(n => n.startsWith("_") || n.startsWith("."))

  test("a trigger appends one data file per side; a full list compacts into one segment") {
    val root = Files.createTempDirectory("graft-txlayout").toString
    val engine = new TxReplayStream(spark, root, compactSegments = 3)
    // trigger t: 40 keys, each in its own one-line tx, all committing
    def trigger(t: Int) = {
      val txs = (1 to 40).map(i => (i.toLong, t * 40L + i))
      val op = if (t == 0) "c" else "u"
      (txs.map { case (k, tx) => LeftEv(k, op, tx * 10, tx, OrderRow(t, s"a$t")) },
        txs.map { case (k, tx) => RightEv(k, 1, op, tx * 10 + 1, tx, LineRow(t, 1, t.toDouble)) },
        txs.map { case (_, tx) => TxEnd(tx, tx * 10 + 5, 1, 1) })
    }
    val triggers = (0 to 3).map(trigger)
    val out = triggers.zipWithIndex.flatMap { case ((l, r, e), t) =>
      val docs = engine.processBatch(l.toDF(), r.toDF(), e.toDF()).collect()
      for (side <- Seq("left", "right")) withClue(s"trigger $t, $side: ") {
        if (t < 3) {
          // appends: the list grows by one segment, of one data file
          engine.liveSegments(side) shouldBe Map(0 -> (0L to t.toLong))
          dataFiles(Paths.get(root, side, s"v$t")) should have size 1
        } else {
          // the list held 3 segments: trigger 3 folds them and its own
          // delta into one segment and appends nothing
          engine.liveSegments(side) shouldBe Map(0 -> Seq(3L))
          names(Paths.get(root, side)) shouldBe Seq("v3")
          dataFiles(Paths.get(root, side, "v3")) should have size 1
        }
      }
      docs.toSeq
    }
    val expected = TxReplay.replay(triggers.flatMap(_._1).toDF(), triggers.flatMap(_._2).toDF(),
      triggers.flatMap(_._3).toDF()).collect()
    out.map(_.toString).sorted shouldBe expected.map(_.toString).sorted
  }

  test("the tx-dimension dirs are written by the driver, and a restart loads them") {
    val root = Files.createTempDirectory("graft-txdimfiles").toString
    val e1 = new TxReplayStream(spark, root, evictAfterBatches = Some(1))
    // batch 0: tx 1 commits; tx 9's event arrives with no END
    e1.processBatch(
      Seq(LeftEv(1, "c", 1, 1, OrderRow(1, "a")), LeftEv(9, "c", 2, 9, OrderRow(9, "z"))).toDF(),
      Seq(RightEv(1, 10, "c", 3, 1, LineRow(1, 1, 1.0))).toDF(),
      Seq(TxEnd(1, 100, 1, 1)).toDF()).count() shouldBe 1L

    // batch 1, an append-only trigger: tx 9 ages out and is evicted, and
    // tx 2 arrives one line short of its END, so it stalls
    val jobs = ReadJobs.jobsOf(spark) {
      e1.processBatch(
        Seq(LeftEv(2, "c", 5, 2, OrderRow(2, "b"))).toDF(), Seq.empty[RightEv].toDF(),
        Seq(TxEnd(2, 200, 1, 1)).toDF()).count() shouldBe 0L
    }
    e1.evictedTxIds shouldBe Seq(9L)
    // no Spark job wrote them: a job's call site would name the writer,
    // and a Spark write leaves _SUCCESS and checksum files beside its part
    // files; each dir holds the one parquet file the driver wrote
    jobs.flatMap(_._2).filter(_.details.contains("writeScalar")).map(_.name) shouldBe empty
    for (name <- Seq("counts", "ends", "evicted"))
      names(Paths.get(root, name, "v1")) shouldBe Seq("part-00000.parquet")

    // a fresh engine over the same root loads counts, ENDs and the evicted
    // list from those files: tx 2's missing line completes it, with the
    // left event counted before the restart, and it emits
    val e2 = new TxReplayStream(spark, root, evictAfterBatches = Some(1))
    e2.evictedTxIds shouldBe Seq(9L)
    val docs = e2.processBatch(Seq.empty[LeftEv].toDF(),
      Seq(RightEv(2, 20, "c", 6, 2, LineRow(2, 2, 2.0))).toDF(), Seq.empty[TxEnd].toDF())
      .collect()
    docs.map(d => (d.getAs[Long]("key"), d.getAs[Long]("commit_lsn"))).toSeq shouldBe
      Seq((2L, 200L))
    e2.evictedTxIds shouldBe Seq(9L)
    e2.currentWatermark shouldBe 200L
  }

  test("a state root of another layout is refused, naming the root") {
    val root = Files.createTempDirectory("graft-txoldlayout")
    // the key-bucketed layout's MANIFEST: version, watermark, batch and
    // bucket count, then each side's per-bucket segment lists
    Files.writeString(root.resolve("MANIFEST"), "0 100 0 2\n0 -1\n-1 0")
    val err = intercept[IllegalStateException](new TxReplayStream(spark, root.toString))
    err.getMessage should include(root.toString)
  }
}
