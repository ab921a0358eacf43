package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Measures the LSM claim directly: with threshold compaction, probe cost
  * against a stream-maintained BM25 index stays FLAT as batches accumulate,
  * instead of growing with the segment count. Drives
  * [[StreamingRetrieval.processBatch]] over `nBatches` document batches
  * twice — compaction ON (threshold 8) and OFF (threshold = nBatches+1,
  * i.e. never reached) — probing the same fixed query set every 10
  * batches. Batches are slices of the sf corpus, so corpus size (and the
  * candidate set) is identical at every probe point between the two runs;
  * only the segment layout differs. Run:
  * `sbt "Test/runMain graft.streaming.StreamingRetrievalScaling [sfDir] [nBatches]"`.
  */
object StreamingRetrievalScaling {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.build("bm25-stream-scaling")
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(60)

    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").cache()
    val n = docs.count()
    val per = math.max(1L, n / nBatches)
    val probes = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(split(col("text"), " "), 1, 4))).as("term"))
      .cache()
    probes.count()

    Seq("compacted" -> 8, "unbounded" -> (nBatches + 1)).foreach { case (tag, thr) =>
      val indexDir = Files.createTempDirectory(s"graft-bm25-scale-$tag").toString
      (0 until nBatches).foreach { b =>
        val batch = docs.filter(col("doc_id") >= b * per &&
          (col("doc_id") < (b + 1) * per || lit(b == nBatches - 1)))
        StreamingRetrieval.processBatch(batch, b, indexDir, compactSegments = thr)
        if ((b + 1) % 10 == 0 || b == nBatches - 1) {
          val segs = SegmentStore.readManifest(indexDir).segs.size
          val times = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            StreamingRetrieval.bm25TopKLive(spark, indexDir, probes, "q_id", "term", k = 10)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"BM25STREAM $tag batch=${b + 1}%3d segs=$segs%3d " +
            f"probe_min=${times.min}%.2f s")
        }
      }
    }
    spark.stop()
  }
}
