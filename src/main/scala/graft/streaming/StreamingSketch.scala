package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

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
  * tiny `_manifest` (tmp + atomic move) recording the committed batch;
  * a redelivered batch is skipped, a crash between the state write and
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
    if (Files.exists(p)) Files.readString(p).trim.toLong else -1L
  }

  private def commit(dir: String, batchId: Long): Unit = {
    val tmp = Paths.get(dir, "_manifest.tmp")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(tmp, batchId.toString)
    Files.move(tmp, manifestPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The committed KMV state — (groupCols*, kmv ARRAY<LONG>, n_est), one
    * row per group (one row total when ungrouped). Before the first
    * commit: a 0-row (kmv, n_est) frame.
    */
  def readKmv(spark: SparkSession, dir: String, cfg: Config = Config()): DataFrame = {
    val b = committedBatch(dir)
    if (b < 0) return spark.range(0)
      .select(array().cast("array<long>").as("kmv"), lit(0L).as("n_est"))
    spark.read.parquet(s"$dir/v$b/kmv")
      .withColumn("n_est", Sketches.kmvEstimate(col("kmv"), cfg.kmvK))
  }

  /** The committed CMS state — (depth, bucket, cnt); empty before the
    * first commit.
    */
  def readCms(spark: SparkSession, dir: String): DataFrame = {
    val b = committedBatch(dir)
    if (b < 0) spark.range(0).select(col("id").cast("int").as("depth"),
      lit(0L).as("bucket"), lit(0L).as("cnt"))
    else spark.read.parquet(s"$dir/v$b/cms")
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
      else (
        Sketches.kmvMergeSketches(
          spark.read.parquet(s"$dir/v$prev/kmv").unionByName(batchKmv),
          cfg.groupCols, cfg.kmvK),
        Sketches.cmsMerge(
          spark.read.parquet(s"$dir/v$prev/cms").unionByName(batchCms),
          cfg.groupCols))
    kmv.write.mode(SaveMode.Overwrite).parquet(s"$dir/v$batchId/kmv")
    cms.write.mode(SaveMode.Overwrite).parquet(s"$dir/v$batchId/cms")
    commit(dir, batchId)
    // prune superseded versions, keeping v<prev> one commit as grace for
    // readers that took the old manifest and scan lazily (the
    // [[SegmentStore]] rule, one-deep because state is sketch-sized)
    val ls = Files.list(Paths.get(dir))
    try ls.forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
          n.drop(1).toLong != batchId && n.drop(1).toLong != prev)
        SegmentStore.deleteRecursively(p)
    } finally ls.close()
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
