package graft.tx

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** A one-shot replay (no caller-supplied reachable set) owns no cache it
  * could release: it returns a lazy frame, so anything it cached would
  * stay in the session's CacheManager after the caller is done. Both
  * replay forms must leave the CacheManager as they found it.
  */
class TxReplayOneShotCacheSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("one-shot replay and replaySorted leave no cached frame behind") {
    // clear what earlier suites in the shared session may have cached
    spark.catalog.clearCache()
    val left = Seq(
      LeftEv(10001, "c", 1, 1, OrderRow(1001, "123 Main St")),
      LeftEv(10001, "u", 12, 2, OrderRow(1001, "456 Oak Ave"))).toDF()
    val right = Seq(
      RightEv(10001, 1, "c", 2, 1, LineRow(101, 2, 19.99)),
      RightEv(10001, 2, "c", 3, 1, LineRow(102, 1, 49.99)),
      RightEv(10001, 3, "c", 11, 2, LineRow(103, 3, 29.99)),
      RightEv(10001, 1, "d", 21, 3, LineRow(-1, -1, -1))).toDF()
    val ends = Seq(TxEnd(1, 100, 1, 2), TxEnd(2, 200, 1, 1), TxEnd(3, 300, 0, 1)).toDF()

    for ((name, out) <- Seq(
        "replay" -> TxReplay.replay(left, right, ends),
        "replaySorted" -> TxReplay.replaySorted(left, right, ends))) withClue(s"$name: ") {
      out.orderBy("commit_lsn", "key").select("key", "commit_lsn")
        .as[(Long, Long)].collect().toSeq shouldBe
        Seq((10001L, 100L), (10001L, 200L), (10001L, 300L))
      spark.sharedState.cacheManager.isEmpty shouldBe true
    }
  }
}
