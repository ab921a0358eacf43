package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.scale.{Chunking, Sketches}

/** The store I/O layer's reader ([[SegmentStore.readDirs]]) trusts each
  * writer's declared schema instead of inferring one. These cases pin that
  * trust: every file-backed store reads back, through the reader, the
  * rows, names and types `spark.read.parquet` finds in the same dirs —
  * including where a caller hands the store INT ids — and the store reads a
  * probe makes launch no listing or schema-inference job.
  */
class StoreReaderSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-reader-$name").toString

  private def loose(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = loose(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(loose(a.elementType), containsNull = true)
    case m: MapType => MapType(loose(m.keyType), loose(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** `byReader` has the names, types (nullability aside) and rows of a
    * `spark.read.parquet` of `dirs`, seen through the same `view`.
    */
  private def sameAsParquet(label: String, byReader: DataFrame, dirs: Seq[String],
                            view: DataFrame => DataFrame = identity): Unit = withClue(s"$label: ") {
    dirs should not be empty
    val bySpark = view(spark.read.parquet(dirs: _*))
    def shape(df: DataFrame) =
      df.schema.fields.map(f => f.name -> loose(f.dataType)).sortBy(_._1).toSeq
    def rows(df: DataFrame) =
      df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq
    shape(byReader) shouldBe shape(bySpark)
    val got = rows(byReader)
    got should not be empty
    got shouldBe rows(bySpark)
  }

  private def segDirs(dir: String): Seq[String] =
    SegmentStore.readManifest(dir).segs.map(s => s"$dir/$s")
  private def delDirs(dir: String): Seq[String] =
    SegmentStore.readManifest(dir).dels.map(d => s"$dir/_dels/$d")

  private val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
  private def text(i: Int): String =
    (0 until 9).map(j => words((i * 3 + j * j) % words.size)).mkString(" ") + s" doc$i"

  /** INT doc ids: batches 0-2 upsert 4 docs each (3 dirs → compaction at
    * batch 2, whose read runs through the reader), batch 3 deletes two —
    * the committed store holds one compacted segment and one marker dir.
    */
  private def docBatch(b: Int): DataFrame =
    if (b < 3) (b * 4 until b * 4 + 4).map(i => (i, text(i), "u")).toDF("doc_id", "text", "op")
    else Seq((1, "", "d"), (6, "", "d")).toDF("doc_id", "text", "op")

  private def vec(i: Int): Seq[Double] = Seq(math.cos(i * 0.7), math.sin(i * 0.7), 0.1 * i)

  /** INT vector and centroid ids, the same upsert/delete shape. */
  private def vecBatch(b: Int): DataFrame =
    if (b < 3) (b * 4 until b * 4 + 4).map(i => (i, vec(i), "u")).toDF("vec_id", "embedding", "op")
    else Seq((1, vec(1), "d"), (6, vec(6), "d")).toDF("vec_id", "embedding", "op")

  private def centroids: DataFrame =
    Seq((0, Seq(1.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0))).toDF("vec_id", "embedding")

  test("every store reads back through the reader what spark.read.parquet reads") {
    val bm25 = tmp("bm25")
    val dedup = tmp("dedup")
    val lex = tmp("lex")
    val cvec = tmp("cvec")
    val ann = tmp("ann")
    for (b <- 0 to 3) {
      StreamingRetrieval.processBatch(docBatch(b), b, bm25, opCol = Some("op"), compactSegments = 3)
      StreamingDedupIndex.processBatch(docBatch(b), b, dedup, opCol = Some("op"),
        compactSegments = 3)
      StreamingChunkIndex.processBatch(docBatch(b), b, lex, window = 4, stride = 4,
        opCol = Some("op"), compactSegments = 3)
      StreamingChunkIndex.processVecBatch(vecBatch(b).withColumn("doc_id", col("vec_id"))
          .withColumn("ck", Chunking.chunkKey(col("vec_id").cast("long"), lit(0))),
        b, cvec, centroids, opCol = Some("op"), compactSegments = 3)
      StreamingAnnIndex.processBatch(vecBatch(b), b, ann, centroids, opCol = Some("op"),
        compactSegments = 3)
    }
    for (d <- Seq(bm25, dedup, lex, cvec, ann)) {
      SegmentStore.readManifest(d).segs.head should startWith("seg=c")
      SegmentStore.readManifest(d).dels should not be empty
    }
    sameAsParquet("bm25 segments", StreamingRetrieval.readSegments(spark, bm25), segDirs(bm25))
    sameAsParquet("bm25 dels", StreamingRetrieval.readDels(spark, bm25), delDirs(bm25))
    sameAsParquet("dedup segments", StreamingDedupIndex.readSegments(spark, dedup), segDirs(dedup))
    sameAsParquet("dedup dels", StreamingDedupIndex.readDels(spark, dedup), delDirs(dedup))
    sameAsParquet("chunk lex segments", StreamingChunkIndex.readSegments(spark, lex), segDirs(lex))
    sameAsParquet("chunk lex dels", StreamingChunkIndex.readDels(spark, lex), delDirs(lex))
    sameAsParquet("chunk vec segments", StreamingChunkIndex.readVecSegments(spark, cvec),
      segDirs(cvec))
    sameAsParquet("ann segments", StreamingAnnIndex.readSegments(spark, ann), segDirs(ann))
    sameAsParquet("ann dels", StreamingAnnIndex.readDels(spark, ann), delDirs(ann))

    // centroids as frozen at the first commit, the bootstrapped baseline,
    // then the refreshed generation's centroids and baseline
    sameAsParquet("frozen centroids", StreamingAnnIndex.readCentroids(spark, ann),
      Seq(s"$ann/_centroids"))
    sameAsParquet("bootstrapped baseline", StreamingAnnIndex.readRefreshBaseline(spark, ann),
      Seq(s"$ann/_abase"))
    StreamingAnnIndex.refreshCentroids(spark, ann)
    sameAsParquet("refreshed centroids", StreamingAnnIndex.readCentroids(spark, ann),
      Seq(s"$ann/_centroids_g1"))
    sameAsParquet("refreshed baseline", StreamingAnnIndex.readRefreshBaseline(spark, ann),
      Seq(s"$ann/_abase_g1"))
    sameAsParquet("refreshed ann segments", StreamingAnnIndex.readSegments(spark, ann),
      segDirs(ann))

    val mon = tmp("monitor")
    val baseline = CorpusMonitor.profile(docBatch(0), "text")
    for (b <- 0 to 2)
      CorpusMonitor.processBatch(docBatch(b), b, mon, baseline, "text", 3.0, compactBatches = 2)
    sameAsParquet("monitor log", CorpusMonitor.readLog(spark, mon), segDirs(mon),
      _.drop("batch").withColumnRenamed("b", "batch"))

    // per-source sketches: the group column's type comes from the data
    val sk = tmp("sketch")
    val cfg = StreamingSketch.Config(kmvK = 8, cmsDepth = 2, cmsWidth = 16,
      groupCols = Seq("source"))
    for (b <- 0 to 2)
      StreamingSketch.processBatch(docBatch(b).withColumn("source", $"doc_id" % 2), b, sk, cfg)
    sameAsParquet("sketch kmv", StreamingSketch.readKmv(spark, sk, cfg), Seq(s"$sk/v2/kmv"),
      _.withColumn("n_est", Sketches.kmvEstimate(col("kmv"), cfg.kmvK)))
    sameAsParquet("sketch cms", StreamingSketch.readCms(spark, sk), Seq(s"$sk/v2/cms"))
  }

  test("probes and parameter reads of committed stores launch no listing or inference job") {
    val ann = tmp("ann-jobs")
    val docs = (0 until 12).map(i => (i.toLong, vec(i), "u")).toDF("vec_id", "embedding", "op")
    StreamingAnnIndex.processBatch(docs, 0, ann, centroids, opCol = Some("op"))
    StreamingAnnIndex.pinIndex(ann, "p")
    StreamingAnnIndex.processBatch(docs.filter($"vec_id" % 5 === 0).withColumn("op", lit("d")),
      1, ann, centroids, opCol = Some("op"))
    SegmentStore.readManifest(ann).dels should not be empty
    // the pin predates every delete: its marker read is an empty local
    // relation, which lets the pinned probe's liveness join fold away
    SegmentStore.readDels(spark, ann, "vec_id", SegmentStore.readPin(ann, "p").manifest)
      .queryExecution.optimizedPlan shouldBe a[LocalRelation]
    StreamingAnnIndex.readRefreshBaseline(spark, ann) // bootstrap, written once
    val sk = tmp("sketch-jobs")
    for (b <- 0 to 1) StreamingSketch.processBatch(docBatch(b), b, sk)
    val queries = docs.select("vec_id", "embedding").limit(3)

    val jobs = ReadJobs.jobsOf(spark) {
      StreamingAnnIndex.ivfTopKLive(spark, ann, queries, k = 2, nprobe = 1).collect()
      StreamingAnnIndex.ivfTopKPinned(spark, ann, "p", queries, k = 2, nprobe = 1).collect()
      StreamingAnnIndex.readCentroids(spark, ann).collect()
      StreamingAnnIndex.readRefreshBaseline(spark, ann).collect()
      StreamingSketch.readKmv(spark, sk).collect()
      StreamingSketch.readCms(spark, sk).collect()
    }
    ReadJobs.listings(jobs) shouldBe empty
    ReadJobs.inferences(jobs) shouldBe empty
  }
}
