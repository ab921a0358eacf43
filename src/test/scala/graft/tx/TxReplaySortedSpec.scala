package graft.tx

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** replaySorted ≡ replay, row for row, across the regimes that stress them
  * differently: the reference's scenario shapes (wide-and-shallow), hot
  * keys updated across many transactions (where the join form's V×P
  * expansion is worst), randomized interleavings, and the stall
  * plumbing shared through `staged`.
  */
class TxReplaySortedSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Canonical comparable form: lines as JSON (nested arrays don't hash
    * deterministically through collect-side comparison otherwise).
    */
  private def canon(df: DataFrame): Array[String] =
    df.select(col("key"), col("commit_lsn"),
        to_json(col("row")).as("row"), to_json(col("lines")).as("lines"),
        col("deleted"))
      .collect()
      .map(_.toSeq.map(String.valueOf).mkString("|"))
      .sorted

  private def assertEquivalent(left: DataFrame, right: DataFrame, ends: DataFrame): Unit = {
    val a = canon(TxReplay.replay(left, right, ends))
    val b = canon(TxReplay.replaySorted(left, right, ends))
    b shouldBe a
    a.length should be > 0 // the comparison must not pass vacuously
  }

  test("scenario shape: insert, update+add, delete lines") {
    val left = Seq(
      LeftEv(10001, "c", 1, 1, OrderRow(1001, "123 Main St")),
      LeftEv(10001, "u", 12, 2, OrderRow(1001, "456 Oak Ave")))
    val right = Seq(
      RightEv(10001, 1, "c", 2, 1, LineRow(101, 2, 19.99)),
      RightEv(10001, 2, "c", 3, 1, LineRow(102, 1, 49.99)),
      RightEv(10001, 3, "c", 11, 2, LineRow(103, 3, 29.99)),
      RightEv(10001, 1, "d", 21, 3, LineRow(-1, -1, -1)),
      RightEv(10001, 2, "d", 22, 3, LineRow(-1, -1, -1)))
    val ends = Seq(TxEnd(1, 100, 1, 2), TxEnd(2, 200, 1, 1), TxEnd(3, 300, 0, 2))
    assertEquivalent(left.toDF(), right.toDF(), ends.toDF())
  }

  test("left-delete tombstone and left-only tx") {
    val left = Seq(
      LeftEv(1, "c", 1, 1, OrderRow(7, "a")),
      LeftEv(1, "u", 10, 2, OrderRow(7, "b")), // left-only tx: no pairs
      LeftEv(1, "d", 20, 3, OrderRow(7, "b")))
    val right = Seq(
      RightEv(1, 5, "c", 2, 1, LineRow(1, 1, 1.0)))
    val ends = Seq(TxEnd(1, 100, 1, 1), TxEnd(2, 200, 1, 0), TxEnd(3, 300, 1, 0))
    assertEquivalent(left.toDF(), right.toDF(), ends.toDF())
  }

  test("hot keys: many transactions per key, shifting line sets") {
    // 20 keys × 40 txs; every tx updates the order and one of 5 lines,
    // deleting every 7th version — dense per-key version chains
    val n = 20L * 40L
    val left = (0L until n).map { i =>
      LeftEv(i % 20, if (i % 11 == 0) "d" else "u", i, i / 20,
        OrderRow((i * 13 % 1000).toInt, s"addr${i % 17}"))
    }
    val right = (0L until n).map { i =>
      RightEv(i % 20, i % 5, if (i % 7 == 0) "d" else "u",
        1000000L + i, i / 20, LineRow((i % 97).toInt, (i % 9).toInt, (i % 50) / 2.0))
    }
    val ends = (0L until 40L).map(t => TxEnd(t, 10000L + t, 20, 20))
    assertEquivalent(left.toDF(), right.toDF(), ends.toDF())
  }

  test("randomized interleaving with incomplete-tx stall and floor") {
    val rnd = new scala.util.Random(42)
    val txs = 30
    val left = (0 until 300).map { i =>
      LeftEv(rnd.nextInt(15).toLong, if (rnd.nextInt(10) == 0) "d" else "u",
        i.toLong, rnd.nextInt(txs).toLong,
        OrderRow(rnd.nextInt(100), s"s${rnd.nextInt(20)}"))
    }
    val right = (0 until 600).map { i =>
      RightEv(rnd.nextInt(15).toLong, rnd.nextInt(8).toLong,
        if (rnd.nextInt(8) == 0) "d" else "u", 1000L + i, rnd.nextInt(txs).toLong,
        LineRow(rnd.nextInt(50), rnd.nextInt(10), rnd.nextInt(100) / 4.0))
    }
    val nl = left.groupBy(_.tx_id).view.mapValues(_.size.toLong)
    val nr = right.groupBy(_.tx_id).view.mapValues(_.size.toLong)
    // tx 20 under-announced? No: over-announce tx 20 → incomplete → stalls
    // every tx committing after it (contiguity)
    val ends = (0 until txs).map { t =>
      val exp = nl.getOrElse(t.toLong, 0L)
      TxEnd(t.toLong, 100000L + t,
        if (t == 20) exp + 1 else exp, nr.getOrElse(t.toLong, 0L))
    }
    assertEquivalent(left.toDF(), right.toDF(), ends.toDF())
  }
}
