package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DataType, StructType}

import graft.scale.{Sketches, TextOps}

/** Streaming maintenance of the corpus's mergeable sketch state — the
  * running-statistics companion to [[CorpusMonitor]] (which tracks
  * moments): "how many distinct tokens has this corpus accumulated?" and
  * "how often has THIS token appeared?" answered as-of the last committed
  * batch without ever rescanning the corpus. Each micro-batch builds its
  * own partial sketches (one pass over the BATCH) and folds them into the
  * persisted state: KMV for distinct tokens ([[Sketches.kmvMergeSketches]]
  * — k-smallest of the union), CMS for token frequencies
  * ([[Sketches.cmsMerge]] — counts are linear). Both sketches are
  * deterministic functions of the input multiset over the portable
  * md5-based hash, so the streamed state is BIT-IDENTICAL to a batch
  * build over everything seen — StreamingSketchSpec pins exact equality,
  * not approximate agreement.
  *
  * State layout (the [[TxReplayStream]] versioned-scalar scheme): each
  * commit writes `dir/v<batch>/kmv` and `dir/v<batch>/cms`, then swaps a
  * tiny `_manifest` ([[SegmentStore.atomicWrite]]) holding
  * "<batch>\n<kmv schema>\n<cms schema>" — the committed batch and the two
  * tables' schemas as JSON, recorded because the group columns' types come
  * from the data; every read goes through [[SegmentStore.readDirs]] with
  * them, so no read infers a schema. A manifest from before the schemas
  * were recorded (one line) is rejected: rebuild the sketch state.
  * A redelivered batch is skipped, a crash between the state write and
  * the manifest replays cleanly (half-written v-dirs are overwritten on
  * retry, pruned once a later commit lands). Per-batch cost: one pass
  * over the delta plus a merge whose inputs are ≤k longs + d·w counters —
  * state size is CONSTANT in corpus size, the whole point of sketches.
  *
  * Append-only by design: sketches cannot unsee a token, so there is no
  * delete/upsert contract here (a shrinking corpus needs a rebuild — the
  * same rule as any CMS/KMV deployment).
  */
object StreamingSketch {

  /** `groupCols`: maintain one independent sketch per group (e.g.
    * Seq("source") tracks per-source vocabularies and frequencies); Nil =
    * one corpus-global sketch. The group columns must be present on every
    * batch's rows.
    */
  case class Config(textCol: String = "text", kmvK: Int = 64,
                    cmsDepth: Int = 4, cmsWidth: Int = 256,
                    groupCols: Seq[String] = Nil)

  private def manifestPath(dir: String): Path = Paths.get(dir, "_manifest")

  /** Last committed batch id, -1 when none. */
  def committedBatch(dir: String): Long = {
    val p = manifestPath(dir)
    if (Files.exists(p)) Files.readAllLines(p).get(0).trim.toLong else -1L
  }

  /** The committed version's kmv and cms dirs, read in the schemas its
    * manifest recorded.
    */
  private def committed(spark: SparkSession, dir: String, b: Long): (DataFrame, DataFrame) = {
    val lines = Files.readAllLines(manifestPath(dir))
    require(lines.size >= 3,
      s"sketch manifest at $dir records no table schemas; rebuild the sketch state")
    def read(table: String, i: Int): DataFrame = SegmentStore.readDirs(spark,
      Seq(s"$dir/v$b/$table"), DataType.fromJson(lines.get(i)).asInstanceOf[StructType])
    (read("kmv", 1), read("cms", 2))
  }

  /** The committed KMV state — (groupCols*, kmv ARRAY<LONG>, n_est), one
    * row per group (one row total when ungrouped). Before the first
    * commit: a 0-row (kmv, n_est) frame.
    */
  def readKmv(spark: SparkSession, dir: String, cfg: Config = Config()): DataFrame = {
    val b = committedBatch(dir)
    if (b < 0) return spark.range(0)
      .select(array().cast("array<long>").as("kmv"), lit(0L).as("n_est"))
    committed(spark, dir, b)._1
      .withColumn("n_est", Sketches.kmvEstimate(col("kmv"), cfg.kmvK))
  }

  /** The committed CMS state — (depth, bucket, cnt); empty before the
    * first commit.
    */
  def readCms(spark: SparkSession, dir: String): DataFrame = {
    val b = committedBatch(dir)
    if (b < 0) spark.range(0).select(col("id").cast("int").as("depth"),
      lit(0L).as("bucket"), lit(0L).as("cnt"))
    else committed(spark, dir, b)._2
  }

  /** Estimated frequency of each probe token as-of the committed state. */
  def tokenFrequency(spark: SparkSession, dir: String, items: DataFrame,
                     itemCol: String, cfg: Config = Config()): DataFrame =
    Sketches.cmsLookup(readCms(spark, dir), items, itemCol,
      cfg.cmsDepth, cfg.cmsWidth, cfg.groupCols)

  /** Fold one micro-batch of documents into the sketch state (tokens via
    * [[TextOps.tokens]] over `cfg.textCol`). Redelivered batches are
    * skipped; the fold is associative, so arrival order cannot change the
    * committed state.
    */
  def processBatch(docs: DataFrame, batchId: Long, dir: String,
                   cfg: Config = Config()): Unit = {
    val spark = docs.sparkSession
    val prev = committedBatch(dir)
    if (batchId <= prev) return // redelivered, already folded
    val toks = docs.select(cfg.groupCols.map(col) :+
      explode(TextOps.tokens(col(cfg.textCol))).as("token"): _*)
    val batchKmv = Sketches.kmvDistinct(toks, cfg.groupCols, "token", cfg.kmvK)
      .select((cfg.groupCols :+ "kmv").map(col): _*)
    val batchCms = Sketches.cmsBuild(toks, "token", cfg.cmsDepth, cfg.cmsWidth,
      cfg.groupCols)
    val (kmv, cms) =
      if (prev < 0) (batchKmv, batchCms)
      else {
        val (prevKmv, prevCms) = committed(spark, dir, prev)
        (Sketches.kmvMergeSketches(prevKmv.unionByName(batchKmv), cfg.groupCols, cfg.kmvK),
          Sketches.cmsMerge(prevCms.unionByName(batchCms), cfg.groupCols))
      }
    kmv.write.mode(SaveMode.Overwrite).parquet(s"$dir/v$batchId/kmv")
    cms.write.mode(SaveMode.Overwrite).parquet(s"$dir/v$batchId/cms")
    SegmentStore.atomicWrite(manifestPath(dir),
      s"$batchId\n${kmv.schema.json}\n${cms.schema.json}")
    // prune superseded versions, keeping v<prev> one commit as grace for
    // readers that took the old manifest and scan lazily (the
    // [[SegmentStore]] rule, one-deep because state is sketch-sized)
    SegmentStore.deleteWhere(Paths.get(dir)) { n =>
      n.startsWith("v") && n.drop(1).toLongOption.exists(v => v != batchId && v != prev)
    }
  }

  /** Attach sketch maintenance to a document stream. */
  def attachSketch(docs: DataFrame, dir: String, checkpoint: String,
                   cfg: Config = Config()): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, dir, cfg)
      }
      .start()
}
