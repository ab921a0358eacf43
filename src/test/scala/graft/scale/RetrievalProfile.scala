package graft.scale

import org.apache.spark.sql.functions._

import graft.{Sessions, Tables}

/** Wall-clock timing for the BM25 operator (q_bm25_topk shape), bare and
  * under the oracle ordering:
  * `sbt "Test/runMain graft.scale.RetrievalProfile [sfDir]"`.
  */
object RetrievalProfile {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("retrieval-profile")
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"RETPHASE $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val probes = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(split(col("text"), " "), 1, 4))).as("term"))

    (1 to 3).foreach { rep =>
      println(s"--- rep $rep")
      val out = Retrieval.bm25TopK(docs, "doc_id", "text", probes, "q_id", "term", k = 10)
      time("bm25-full")(out.write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
      import graft.Ordered._
      val out2 = Retrieval.bm25TopK(docs, "doc_id", "text", probes, "q_id", "term", k = 10)
        .ordered("q_id", "rank")
      time("bm25-ordered")(out2.write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
    }
    val out = Retrieval.bm25TopK(docs, "doc_id", "text", probes, "q_id", "term", k = 10)
    out.explain("formatted")
    spark.stop()
  }
}
