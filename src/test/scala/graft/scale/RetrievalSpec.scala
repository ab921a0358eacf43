package graft.scale

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{Tables, TestSpark}

/** Behavior gates for the round-7 curation operators beyond their DuckDB
  * oracle rows: BM25 ranking properties on a hand-computable fixture, the
  * Gopher gate's rule independence, and soft-dedup weight conservation.
  */
class RetrievalSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.01"

  test("bm25: exact score on a hand-computed two-doc corpus") {
    // doc 1 = "x x y", doc 2 = "y z"; query = {x}. Only doc 1 matches.
    // N=2, df(x)=1, idf = ln(1 + (2-1+0.5)/1.5) = ln(2); dl1=3, avgdl=2.5
    // tfn = 2*2.2 / (2 + 1.2*(0.25 + 0.75*3/2.5)) = 4.4/3.38
    val docs = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val q = Seq((10L, "x")).toDF("q_id", "term")
    val out = Retrieval.bm25TopK(docs, "doc_id", "text", q, "q_id", "term", k = 5)
      .collect()
    out.length shouldBe 1
    val r = out.head
    r.getLong(0) shouldBe 10L
    r.getLong(1) shouldBe 1L
    val expected = math.log(2.0) * (2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3.0 / 2.5)))
    r.getDouble(2) shouldBe (math.rint(expected * 1e4) / 1e4 +- 1e-9)
    r.getInt(3) shouldBe 1
  }

  test("bm25: a doc matching more query terms outranks a partial match") {
    val docs = Seq(
      (1L, "alpha beta gamma pad pad"),
      (2L, "alpha pad pad pad pad"),
      (3L, "pad pad pad pad pad")).toDF("doc_id", "text")
    val q = Seq((7L, "alpha"), (7L, "beta")).toDF("q_id", "term")
    val rows = Retrieval.bm25TopK(docs, "doc_id", "text", q, "q_id", "term", k = 5)
      .orderBy("rank").collect()
    rows.map(_.getLong(1)).toSeq shouldBe Seq(1L, 2L) // doc 3 never appears
  }

  test("bm25: duplicate query terms collapse (no double counting)") {
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val once = Seq((1L, "a")).toDF("q_id", "term")
    val twice = Seq((1L, "a"), (1L, "a")).toDF("q_id", "term")
    val s1 = Retrieval.bm25TopK(docs, "doc_id", "text", once, "q_id", "term")
      .select("score").as[Double].collect().toSeq
    val s2 = Retrieval.bm25TopK(docs, "doc_id", "text", twice, "q_id", "term")
      .select("score").as[Double].collect().toSeq
    s1 shouldBe s2
  }

  test("bm25: top-k caps candidates per query and ranks are dense from 1") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val probes = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(split(col("text"), " "), 1, 4))).as("term"))
    val out = Retrieval.bm25TopK(docs, "doc_id", "text", probes, "q_id", "term", k = 10)
      .cache()
    val perQ = out.groupBy("q_id").agg(count(lit(1)).as("n"),
      min("rank").as("lo"), max("rank").as("hi")).collect()
    perQ should not be empty
    perQ.foreach { r =>
      r.getLong(1) should be <= 10L
      r.getInt(2) shouldBe 1
      r.getInt(3).toLong shouldBe r.getLong(1) // dense 1..n
    }
    // scores are non-increasing with rank within a query
    val bad = out.as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).values.flatMap { g =>
        val s = g.sortBy(_._4).map(_._3)
        s.zip(s.drop(1)).filter { case (a, b) => a < b }
      }
    bad shouldBe empty
    out.unpersist()
  }

  test("bm25 edges: empty probe set and no-match probes return empty, not error") {
    val docs = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    val noProbes = Seq.empty[(Long, String)].toDF("q_id", "term")
    Retrieval.bm25TopK(docs, "doc_id", "text", noProbes, "q_id", "term").collect() shouldBe empty
    val noMatch = Seq((1L, "zzz_not_in_corpus")).toDF("q_id", "term")
    Retrieval.bm25TopK(docs, "doc_id", "text", noMatch, "q_id", "term").collect() shouldBe empty
    Retrieval.bm25TopKIndexed(Retrieval.buildBm25Index(docs, "doc_id", "text"),
      noMatch, "q_id", "term").collect() shouldBe empty
  }

  test("gopher gate: each rule trips independently on crafted docs") {
    // 18 distinct 5-6 char tokens + 2 stopwords: every rule passes
    val good = (1 to 18).map(i => s"word$i").mkString(" ") + " the a"
    val tooShort = "the a wwww"
    val noStops = ("word " * 25).trim // also repetitive; only ok_stop asserted
    val repetitive = ("zzzz " * 10) + (1 to 8).map(i => s"word$i").mkString(" ") +
      " the a" // top_frac = 10/20
    val longTokens = (("w" * 30 + " ") * 19 + "the a " * 3).trim // avg len ≫ 10
    val docs = Seq((1L, good), (2L, tooShort), (3L, noStops),
      (4L, repetitive), (5L, longTokens)).toDF("doc_id", "text")
    val out = TextOps.gopherGate(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    out(1L).getBoolean(9) shouldBe true // pass
    out(2L).getBoolean(5) shouldBe false // ok_count
    out(3L).getBoolean(7) shouldBe false // ok_stop
    out(4L).getBoolean(8) shouldBe false // ok_rep
    out(5L).getBoolean(6) shouldBe false // ok_len
    // the crafted trips do not collaterally break the count rule
    out(3L).getBoolean(5) shouldBe true
    out(4L).getBoolean(5) shouldBe true
  }

  test("bm25 maxDfFrac drops common query terms; fully-capped query is empty") {
    // "common" in all 4 docs (df = 1.0), "rare" only in doc 1 (df = 0.25)
    val docs = Seq((1L, "rare common pad1"), (2L, "common pad2 x"),
      (3L, "common y z"), (4L, "common w v")).toDF("doc_id", "text")
    val q = Seq((9L, "rare"), (9L, "common")).toDF("q_id", "term")
    val index = Retrieval.buildBm25Index(docs, "doc_id", "text")
    val noDels = Seq.empty[(Long, Long)].toDF("doc_id", "batch")
    // every probe form: inline, persisted index, and the live view of a
    // single-batch segment frame with no deletes
    val forms: Seq[(String, Double => org.apache.spark.sql.DataFrame)] = Seq(
      "inline" -> (cap => Retrieval.bm25TopK(docs, "doc_id", "text", q,
        "q_id", "term", k = 10, maxDfFrac = cap)),
      "indexed" -> (cap => Retrieval.bm25TopKIndexed(index, q, "q_id", "term",
        k = 10, maxDfFrac = cap)),
      "live" -> (cap => graft.streaming.StreamingRetrieval.bm25TopKLive(
        index.withColumn("batch", lit(0L)), noDels, q, "q_id", "term",
        k = 10, maxDfFrac = cap)))
    forms.foreach { case (form, probe) =>
      def ids(cap: Double) = probe(cap).select("doc_id").as[Long].collect().toSeq.sorted
      withClue(s"$form: ") {
        ids(0.5) shouldBe Seq(1L) // only the rare term scores
        ids(1.0) shouldBe Seq(1L, 2L, 3L, 4L) // the common term matches every doc
        ids(0.1) shouldBe empty
      }
    }
  }

  test("bm25: a null-text document is not counted in N; inline equals indexed") {
    // doc 3 has no text, so it has no postings: N = 2 on every path, and
    // the score is the hand-computed two-doc value of the first test
    val docs = Seq((1L, Option("x x y")), (2L, Option("y z")), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val q = Seq((10L, "x")).toDF("q_id", "term")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().toSeq
    val inline = rows(Retrieval.bm25TopK(docs, "doc_id", "text", q, "q_id", "term"))
    val indexed = rows(Retrieval.bm25TopKIndexed(
      Retrieval.buildBm25Index(docs, "doc_id", "text"), q, "q_id", "term"))
    inline shouldBe indexed
    val expected = math.log(2.0) * (2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3.0 / 2.5)))
    inline.map(_._3) shouldBe Seq(math.rint(expected * 1e4) / 1e4)
  }

  test("bm25 indexed path equals the inline path on the fixture corpus") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val probes = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(split(col("text"), " "), 1, 4))).as("term"))
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val inline = Retrieval.bm25TopK(docs, "doc_id", "text", probes, "q_id", "term", k = 10)
      .collect().map(r => key(r) -> ((r.getDouble(2), r.getInt(3)))).toMap
    val indexed = Retrieval.bm25TopKIndexed(
      Retrieval.buildBm25Index(docs, "doc_id", "text"), probes, "q_id", "term", k = 10)
      .collect().map(r => key(r) -> ((r.getDouble(2), r.getInt(3)))).toMap
    indexed.keySet shouldBe inline.keySet
    indexed.foreach { case (k0, (score, rank)) =>
      rank shouldBe inline(k0)._2
      score shouldBe inline(k0)._1 +- 1e-9
    }
  }

  test("a persisted index probes without shuffling index rows pre-reduction") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25idx").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    Retrieval.buildBm25Index(docs, "doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val probes = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(split(col("text"), " "), 1, 4))).as("term"))
    val out = Retrieval.bm25TopKIndexed(index, probes, "q_id", "term", k = 10)
    out.count() should be > 0L
    // every join over the index side is broadcast-built: no sort-merge or
    // shuffled-hash join may carry index rows a broadcast hasn't reduced
    val plan = out.queryExecution.executedPlan.toString
    plan should not include "SortMergeJoin"
    plan should not include "ShuffledHashJoin"
  }

  test("weighted hash sample: boundary weights, monotonicity, determinism") {
    val df = (1L to 500L).map(i => (i, 0.5)).toDF("id", "w")
    val all = df.withColumn("w", lit(1.0))
    val none = df.withColumn("w", lit(0.0))
    Sampling.weightedHashSample(all, "id", "w").count() shouldBe 500L
    Sampling.weightedHashSample(none, "id", "w").count() shouldBe 0L
    val half = Sampling.weightedHashSample(df, "id", "w")
      .select("id").as[Long].collect().toSet
    // determinism: the same call returns the same set
    Sampling.weightedHashSample(df, "id", "w")
      .select("id").as[Long].collect().toSet shouldBe half
    // monotonicity: raising every weight only ADDS rows
    val more = Sampling.weightedHashSample(df.withColumn("w", lit(0.8)), "id", "w")
      .select("id").as[Long].collect().toSet
    half.subsetOf(more) shouldBe true
    // rate lands near the weight (hash uniformity; wide tolerance)
    half.size.toDouble shouldBe (250.0 +- 60.0)
  }

  test("rrf fusion: hand-computed scores, one-list docs, tie-break by doc id") {
    import spark.implicits._
    // system A: doc 1 @1, doc 2 @2; system B: doc 2 @1, doc 3 @2
    val a = Seq((9L, 1L, 1), (9L, 2L, 2)).toDF("q_id", "doc_id", "rank")
    val b = Seq((9L, 2L, 1), (9L, 3L, 2)).toDF("q_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(a, b), k = 10)
      .orderBy("rank").collect()
    // doc 2: 1/62 + 1/61 (both lists) beats doc 1: 1/61 (one list)
    out.map(_.getLong(1)).toSeq shouldBe Seq(2L, 1L, 3L)
    out.head.getDouble(2) shouldBe (math.rint((1.0 / 62 + 1.0 / 61) * 1e6) / 1e6 +- 1e-9)
    out(1).getDouble(2) shouldBe (math.rint(1.0 / 61 * 1e6) / 1e6 +- 1e-9)
    // doc 1 and doc 3 tie at rounded 1/61 vs 1/62 — no; make a real tie:
    val t1 = Seq((5L, 7L, 3)).toDF("q_id", "doc_id", "rank")
    val t2 = Seq((5L, 4L, 3)).toDF("q_id", "doc_id", "rank")
    val tied = Retrieval.rrfFuse(Seq(t1, t2), k = 10).orderBy("rank").collect()
    tied.map(_.getLong(1)).toSeq shouldBe Seq(4L, 7L) // equal rrf → doc_id asc
    // k caps the fused list
    Retrieval.rrfFuse(Seq(a, b), k = 1).count() shouldBe 1L
  }

  test("soft dedup weights: each cluster's weights sum to 1") {
    val labels = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // size-3 cluster
      (4L, 4L), (5L, 4L),           // size-2 cluster
      (6L, 6L)                      // singleton
    ).toDF("id", "cluster_root")
    val out = NearDup.softDedupWeights(labels).collect()
    out.length shouldBe 6
    out.foreach { r =>
      val size = r.getLong(2)
      r.getDouble(3) shouldBe (math.rint(1e6 / size) / 1e6 +- 1e-12)
    }
    val byCluster = out.groupBy(_.getLong(1)).view.mapValues(_.map(_.getDouble(3)).sum)
    byCluster(4L) shouldBe 1.0 +- 1e-6
    byCluster(6L) shouldBe 1.0 +- 1e-12
  }

  test("soft dedup weights: the skew-safe plan equals the window plan") {
    // one mega-cluster (the case skewSafe exists for) + singletons
    val labels = ((1L to 5000L).map(i => (i, 1L)) ++
      (6000L to 6050L).map(i => (i, i))).toDF("id", "cluster_root")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val window = NearDup.softDedupWeights(labels).collect().map(key).toSet
    val skewSafe = NearDup.softDedupWeights(labels, skewSafe = true).collect().map(key).toSet
    skewSafe shouldBe window
    skewSafe.count(_._2 == 1L) shouldBe 5000
    // the skew-safe plan carries no window exec — nothing AQE can't split
    val plan = NearDup.softDedupWeights(labels, skewSafe = true)
      .queryExecution.executedPlan.toString
    plan should not include "Window"
  }
}
