package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.scale.Similarity

/** Streaming maintenance of the IVF embedding index
  * ([[Similarity.assignBuckets]]'s (vec_id, bucket, vec, norm) artifact)
  * under the [[SegmentStore]] LSM lifecycle — the third index family on
  * the shared contract, beside [[StreamingRetrieval]] (BM25 postings) and
  * [[StreamingDedupIndex]] (MinHash signatures): vectors arrive as a
  * stream of UPSERTS and DELETES, each micro-batch appends one
  * delta-sized assignment segment (one broadcast-centroid pass over just
  * the batch), and probes see the corpus as of the last committed batch —
  * an updated vector is re-assigned from its NEW values (it may move
  * buckets), a deleted vector stops appearing as a neighbor.
  *
  * The centroids are the index's FROZEN parameter (train once with
  * [[Similarity.kmeansIterate]]; retraining re-buckets everything =
  * rebuild the index). The first committed batch persists them under
  * `_centroids/` inside the index dir — underscore-hidden from partition
  * discovery, like the manifest — so the artifact is self-contained and
  * probes cannot accidentally route with different centroids than the
  * assignments were built with.
  *
  * Scale shape: per-batch write cost is one |delta|×K broadcast pass;
  * probes pay one |queries|×K routing pass plus one streamed pass of the
  * index scan, on which the liveness predicates (per-id batch maxima +
  * churn-sized delete markers) ride as AQE-broadcast joins — the index is
  * scanned, never shuffled, exactly as in [[Similarity.ivfTopKIndexed]].
  *
  * The IVF lifecycle (centroid freeze at first commit, generation-pointed
  * centroid reads, Lloyd refresh with an atomic rewrite, the per-generation
  * baseline and the drift policy) is written once here, over a [[Layout]];
  * [[StreamingChunkIndex]]'s chunk-vec store runs the same lifecycle with
  * its own layout.
  */
object StreamingAnnIndex {

  private val segSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("bucket", LongType),
    StructField("vec", ArrayType(DoubleType, containsNull = true)),
    StructField("norm", DoubleType),
    StructField("batch", LongType)))

  /** A centroid generation as written by the freeze and the refresh. */
  private val centSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType, containsNull = true))))

  /** A generation's assignment-quality baseline row. */
  private val baselineSchema = StructType(Seq(
    StructField("mean_acos", DoubleType), StructField("sd_acos", DoubleType),
    StructField("n", LongType)))

  /** The only ways the two IVF stores differ: the segment `schema`, the
    * `liveId` whose latest version wins and that delete markers name, and
    * `derive`, the per-row columns computed from an assignment's
    * (vec_id, bucket, vec, norm) rows, applied in the append build and in
    * the refresh rewrite alike. The lifecycle functions that take a layout
    * read their input as (vec_id, embedding), plus the `liveId` and op
    * columns for deletes; each store's entry points map their callers'
    * column names at that boundary ([[asCore]]).
    */
  private[streaming] case class Layout(schema: StructType, liveId: String,
                                       derive: DataFrame => DataFrame)

  private val docLayout = Layout(segSchema, "vec_id", identity)

  /** `df` as (vec_id, embedding) followed by the `keep` columns. */
  private[streaming] def asCore(df: DataFrame, idCol: String, vecCol: String,
                                keep: Column*): DataFrame =
    df.select(Seq(col(idCol).as("vec_id"), col(vecCol).as("embedding")) ++ keep: _*)

  /** Live assignment rows, `batch` included. */
  def readSegments(spark: SparkSession, indexDir: String): DataFrame =
    SegmentStore.readSegments(spark, indexDir, segSchema)

  /** Live delete markers — schema (vec_id, batch). */
  def readDels(spark: SparkSession, indexDir: String): DataFrame =
    SegmentStore.readDels(spark, indexDir, "vec_id")

  /** Relative dir of the centroid generation the manifest points at:
    * `_centroids` (flat — generation 0, the first committed batch's
    * write) until a [[refreshCentroids]] bumps the manifest's `param` to
    * `g<N>` → `_centroids_g<N>`. Sibling dirs, never nested: a parquet
    * dir must not grow subdirectories under it. Both IVF stores use it.
    */
  private[streaming] def centroidsDir(m: SegmentStore.Manifest): String =
    m.param.fold("_centroids")(g => s"_centroids_$g")

  /** Sibling of [[centroidsDir]] for the generation's assignment-quality
    * baseline (1 row: mean/sd of the corpus's assignment cosine at freeze
    * time, plus the row count it was computed over) — what
    * [[maybeRefreshOnDrift]] judges each batch against. Rides the same
    * manifest `param` pointer, so baseline and centroids can never mix
    * generations.
    */
  private def baselineDir(m: SegmentStore.Manifest): String =
    m.param.fold("_abase")(g => s"_abase_$g")

  /** The centroids the CURRENT index generation was built with — columns
    * (vec_id, embedding ARRAY<DOUBLE>). Resolved through the manifest's
    * parameter pointer, so assignments and routing always match. Reads
    * either IVF store, the chunk-vec store included.
    */
  def readCentroids(spark: SparkSession, indexDir: String): DataFrame =
    readCentroids(spark, indexDir, SegmentStore.readManifest(indexDir))

  /** [[readCentroids]] against an already-read manifest snapshot (the
    * [[SegmentStore.readSegments]] snapshot-overload convention) — what
    * a coherent probe uses so its centroids and its rows come from ONE
    * commit.
    */
  def readCentroids(spark: SparkSession, indexDir: String,
                    m: SegmentStore.Manifest): DataFrame =
    SegmentStore.readDirs(spark, Seq(s"$indexDir/${centroidsDir(m)}"), centSchema)

  /** [[Similarity.ivfTopKIndexed]] over the live view of an upsert/delete
    * index: query vectors route through the persisted centroids; the
    * liveness predicates ride the streamed index scan as churn-sized
    * AQE-broadcast joins (versions from a column-pruned (vec_id, batch)
    * pass), then the bucket join reduces to the probed buckets' rows.
    * Equals an [[Similarity.ivfTopKIndexed]] probe of a fresh assignment
    * of the surviving latest-version corpus (StreamingAnnIndexSpec pins
    * it).
    */
  def ivfTopKLive(segs: DataFrame, dels: DataFrame, centroids: DataFrame,
                  queries: DataFrame, k: Int, nprobe: Int = 1,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val versions = segs.select("vec_id", "batch").distinct()
    val live = SegmentStore.liveFilter(segs, versions, dels, "vec_id")
    Similarity.ivfTopKIndexed(live.drop("batch"), centroids, queries,
      k, nprobe, idCol, vecCol)
  }

  /** [[ivfTopKLive]] reading a maintained index directory — segments,
    * delete markers, AND centroids resolved from ONE manifest snapshot,
    * so a refresh committing mid-probe can never hand it one generation's
    * centroids against another's assignments (separate reads could).
    * With a refresh policy in the loop this is the probe form to use; a
    * caller composing the explicit-frames overload owns that coherence
    * itself (pass frames derived from one manifest, never a centroid
    * frame captured before a possible refresh).
    */
  def ivfTopKLive(spark: SparkSession, indexDir: String, queries: DataFrame,
                  k: Int, nprobe: Int): DataFrame = {
    val m = SegmentStore.readManifest(indexDir)
    ivfTopKLive(SegmentStore.readSegments(spark, indexDir, segSchema, m),
      SegmentStore.readDels(spark, indexDir, "vec_id", m),
      readCentroids(spark, indexDir, m),
      queries, k, nprobe)
  }

  /** Pin the index's current commit under `name` — segments, delete
    * markers, AND the frozen centroid generation — so [[ivfTopKPinned]]
    * returns this exact corpus state bit-identically forever (the
    * reproducible-training-run primitive), across any later upserts,
    * deletes, compactions, and [[refreshCentroids]]
    * re-parameterizations. No data is copied: the pin holds the
    * referenced dirs in the store's pending list past their grace
    * expiry. Release with [[SegmentStore.unpin]]; the next maintenance
    * commit reclaims the held dirs. Single-writer like every
    * maintenance entry point.
    */
  def pinIndex(indexDir: String, name: String): SegmentStore.Manifest = {
    val m = SegmentStore.readManifest(indexDir)
    SegmentStore.pin(indexDir, name, Seq(centroidsDir(m)))
  }

  /** [[SegmentStore.pinReport]] with this family's live param artifacts
    * (the current centroid generation and its baseline) counted as live,
    * so a pin of the current generation reports zero held bytes.
    */
  def pinReport(indexDir: String): Seq[SegmentStore.PinReport] = {
    val m = SegmentStore.readManifest(indexDir)
    SegmentStore.pinReport(indexDir, Seq(centroidsDir(m), baselineDir(m)))
  }

  /** [[ivfTopKLive]] against a pin: the same coherent probe, resolved
    * through the pinned manifest instead of the live one — rows,
    * tombstones, and routing centroids all from the pinned commit, even
    * after a refresh superseded that centroid generation.
    */
  def ivfTopKPinned(spark: SparkSession, indexDir: String, pinName: String,
                    queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val p = SegmentStore.readPin(indexDir, pinName)
    ivfTopKLive(SegmentStore.readSegments(spark, indexDir, segSchema, p.manifest),
      SegmentStore.readDels(spark, indexDir, "vec_id", p.manifest),
      readCentroids(spark, indexDir, p.manifest),
      queries, k, nprobe)
  }

  /** Apply one micro-batch of vector changes to the index at `indexDir`
    * (`opCol` rows with "d" delete, others upsert; redelivered batches are
    * skipped). The first committed batch persists `centroids`; EVERY later
    * batch resolves its assignment centroids through the manifest's
    * generation pointer ([[readCentroids]]) and ignores the argument — so
    * assignments and probe routing always share one generation, including
    * after a [[refreshCentroids]] bumped the pointer mid-stream (a frozen
    * caller argument would otherwise bucket post-refresh upserts with the
    * superseded generation while probes route with the new one).
    */
  def processBatch(docs: DataFrame, batchId: Long, indexDir: String,
                   centroids: DataFrame,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   opCol: Option[String] = None,
                   compactSegments: Int = 8): Unit =
    processBatch(docLayout, asCore(docs, idCol, vecCol, opCol.map(col).toSeq: _*),
      batchId, indexDir, asCore(centroids, idCol, vecCol), opCol, compactSegments)

  /** [[processBatch]] over a [[Layout]]; `docs` and `centroids` in
    * (vec_id, embedding) naming.
    */
  private[streaming] def processBatch(lay: Layout, docs: DataFrame, batchId: Long,
                                      indexDir: String, centroids: DataFrame,
                                      opCol: Option[String], compactSegments: Int): Unit = {
    // redelivery short-circuit BEFORE touching centroids: resolving them
    // costs a parquet read, and an at-least-once transport replaying a
    // batch tail after restart should pay only the manifest read
    val last = SegmentStore.readManifest(indexDir).lastBatch
    if (batchId <= last) return
    // (re)write the centroids until the FIRST batch commits — keying the
    // freeze on the manifest, not on dir existence, so a crash between a
    // _centroids write and the first manifest commit cannot freeze stale
    // centroids under assignments built from a different argument on retry
    val assignCents =
      if (last >= 0L) readCentroids(docs.sparkSession, indexDir)
      else {
        SegmentStore.conform(centSchema)(centroids)
          .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/_centroids")
        centroids
      }
    SegmentStore.processBatch(docs, batchId, indexDir, lay.liveId, lay.liveId, opCol,
      compactSegments,
      upserts => SegmentStore.conform(lay.schema)(
        lay.derive(Similarity.assignBuckets(upserts, assignCents))))
  }

  /** Re-center the index's frozen routing parameter on the CURRENT live
    * corpus — the drift answer for a long-running stream. The centroids a
    * batch-0 training run froze describe batch-0's distribution; months of
    * upserts can leave most of the corpus far from every centroid
    * (degenerate buckets → recall collapse on the drifted mass). This runs
    * `lloydIters` Lloyd rounds ([[Similarity.kmeansIterate]]) seeded from
    * the CURRENT centroids over the live vectors, persists the result as
    * the next centroid generation (`_centroids_g<N>`), freezes the new
    * generation's assignment-quality baseline from the same scored pass,
    * and re-derives every live row's bucket in one [[SegmentStore.rewrite]]
    * — segments and the generation pointer swap in a single atomic
    * manifest commit, so a probe either routes old-against-old or
    * new-against-new, never mixed. Per-row `batch` versions are preserved,
    * so upsert/delete semantics continue unchanged across the refresh.
    *
    * Offline and corpus-sized BY DESIGN (one |live|×K assignment pass per
    * Lloyd round plus the rewrite) — the amortized cost of keeping every
    * per-batch append delta-sized; run it on the cadence drift warrants
    * (weekly, or when bucket-occupancy skew crosses a threshold), NOT per
    * batch. Single-writer: serialize with the maintenance stream (call it
    * between batches or from inside the same foreachBatch).
    *
    * Returns the refreshed centroids (vec_id, embedding).
    */
  def refreshCentroids(spark: SparkSession, indexDir: String,
                       lloydIters: Int = 1, tol: Double = 1e-4): DataFrame =
    refreshCentroids(docLayout, spark, indexDir, lloydIters, tol)

  /** [[refreshCentroids]] over a [[Layout]]. */
  private[streaming] def refreshCentroids(lay: Layout, spark: SparkSession, indexDir: String,
                                          lloydIters: Int, tol: Double): DataFrame = {
    val m = SegmentStore.readManifest(indexDir)
    require(m.lastBatch >= 0L, s"no committed index at $indexDir")
    val refreshed = Similarity.kmeansIterate(liveCorpus(lay, spark, indexDir, m),
      readCentroids(spark, indexDir, m), maxIters = lloydIters, tol = tol)
      .select(col("centroid_id").as("vec_id"), col("embedding"))
    val gen = m.param.fold(1)(p => p.stripPrefix("g").toInt + 1)
    SegmentStore.conform(centSchema)(refreshed)
      .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/_centroids_g$gen")
    val cents = SegmentStore.readDirs(spark, Seq(s"$indexDir/_centroids_g$gen"), centSchema)
    // the rewrite's scored assignment feeds BOTH the new segment rows and
    // the new generation's assignment-quality baseline — cached so the
    // corpus×K pass runs once; released even if the rewrite throws (a
    // retried refresh must not accumulate leaked corpus-sized cache)
    var scoredRef: DataFrame = null
    try SegmentStore.rewrite(spark, indexDir, lay.schema, lay.liveId,
      rows => {
        val scored = Similarity.assignBucketsScored(
          rows.select(col("vec_id"), col("vec").as("embedding")), cents).cache()
        scoredRef = scored
        writeBaseline(spark, scored, s"$indexDir/_abase_g$gen")
        // derived columns recomputed, per-row batch re-joined: liveness
        // is untouched by the rewrite
        lay.derive(scored.drop("acos")).join(rows.select("vec_id", "batch"), Seq("vec_id"))
      },
      newParam = Some(s"g$gen"),
      extraDead = Seq(centroidsDir(m), baselineDir(m)))
    finally if (scoredRef != null) scoredRef.unpersist()
    cents
  }

  /** The live corpus of the commit `m` as (vec_id, embedding). */
  private def liveCorpus(lay: Layout, spark: SparkSession, indexDir: String,
                         m: SegmentStore.Manifest): DataFrame =
    SegmentStore.liveRows(SegmentStore.readSegments(spark, indexDir, lay.schema, m),
      SegmentStore.readDels(spark, indexDir, lay.liveId, m), lay.liveId)
      .select(col("vec_id"), col("vec").as("embedding"))

  /** Persist the assignment-quality baseline of `scored` at `dir` — one
    * collected row written back as a literal (the stats pass runs once).
    * Zero-norm vectors carry no direction — their cosine is the
    * below-range [[Similarity.UndefinedCos]] sentinel — so they are
    * excluded from the moments BY NORM: garbage embeddings must neither drag the frozen
    * mean (every later judgment would compare against corruption) nor
    * masquerade as drift the refresh cannot fix (a zero-vector flood is
    * an embedder regression — the content monitor's job, not Lloyd's).
    * An EMPTY (or all-zero-norm) corpus has no moments: nothing is
    * persisted, so a later bootstrap retries once rows exist instead of
    * freezing a null baseline that would disable the policy forever.
    */
  private def writeBaseline(spark: SparkSession, scored: DataFrame, dir: String): Unit = {
    val stats = scored.filter(col("norm") > 0).agg(
      DriftRule.mean6(col("acos")).as("mean_acos"),
      DriftRule.sd6(col("acos")).as("sd_acos"),
      count(lit(1)).as("n"))
    val row = stats.collect()(0)
    if (!row.isNullAt(0))
      spark.createDataFrame(java.util.List.of(row), stats.schema)
        .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** The current generation's assignment-quality baseline (1 row:
    * mean_acos, sd_acos, n), creating it when absent — an index built
    * before any policy was attached gets its baseline bootstrapped from
    * the CURRENT live corpus scored against the current centroids (one
    * corpus×K pass, once per generation). With no live rows to freeze the
    * returned frame is empty (and nothing persists — see
    * [[writeBaseline]]).
    */
  def readRefreshBaseline(spark: SparkSession, indexDir: String): DataFrame =
    readRefreshBaseline(docLayout, spark, indexDir)

  /** [[readRefreshBaseline]] over a [[Layout]]. */
  private[streaming] def readRefreshBaseline(lay: Layout, spark: SparkSession,
                                             indexDir: String): DataFrame = {
    val m = SegmentStore.readManifest(indexDir)
    require(m.lastBatch >= 0L, s"no committed index at $indexDir")
    val dir = s"$indexDir/${baselineDir(m)}"
    if (!Files.exists(Paths.get(dir)))
      writeBaseline(spark, Similarity.assignBucketsScored(
        liveCorpus(lay, spark, indexDir, m), readCentroids(spark, indexDir, m)), dir)
    // absent → an empty frame of the baseline schema
    SegmentStore.readDirs(spark, Seq(dir).filter(d => Files.exists(Paths.get(d))),
      baselineSchema)
  }

  /** When to re-center: the open-loop half of the drift story is
    * [[refreshCentroids]] (the MECHANISM); this is the POLICY that closes
    * it. Fire when a batch's mean assignment cosine sags more than `z`
    * baseline standard deviations below the freeze-time mean — the
    * shared [[DriftRule]] (the content monitor's judge too), applied to the one
    * signal the index computes anyway (per-vector nearest-centroid
    * cosine): drifted arrivals sit far from every frozen centroid, so
    * their mean `acos` craters while a baseline-like batch stays put.
    * One-sided by design — a batch assigning BETTER than baseline is
    * never drift.
    *
    * `minBatchRows` guards the moment: a handful of vectors moves a mean
    * on noise alone, and a refresh is corpus-sized — tiny batches never
    * fire. `z` uses the baseline's PER-VECTOR sd (not sd/√n), making the
    * trigger deliberately conservative; a baseline with sd 0 (a
    * degenerate corpus with no spread to scale by) fires on any sag past
    * the shared noise floor ([[DriftRule.MinShiftAtZeroSd]] — pure
    * 6-decimal rounding noise must not trigger a corpus-sized refresh,
    * which would re-baseline at sd 0 and could re-fire forever).
    */
  case class RefreshPolicy(z: Double = 3.0, minBatchRows: Long = 64,
                           lloydIters: Int = 1, tol: Double = 1e-4) {
    require(z > 0.0, s"z must be positive, got $z")
    require(minBatchRows >= 1, s"minBatchRows must be >= 1, got $minBatchRows")
  }

  /** Judge one batch's upserts against the current generation's baseline
    * and re-center the index ([[refreshCentroids]]) if they drifted past
    * `policy.z`. Returns the refreshed centroids when it fired. Cost when
    * it doesn't fire: one |batch|×K broadcast pass + a 1-row aggregate —
    * delta-sized, no corpus touch (the baseline bootstrap is once per
    * generation). The refresh itself writes the NEXT generation's
    * baseline, so a blob the refresh absorbed never re-fires.
    */
  def maybeRefreshOnDrift(spark: SparkSession, indexDir: String,
                          batchUpserts: DataFrame,
                          policy: RefreshPolicy = RefreshPolicy(),
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): Option[DataFrame] =
    maybeRefreshOnDrift(docLayout, spark, indexDir, asCore(batchUpserts, idCol, vecCol),
      policy)

  /** [[maybeRefreshOnDrift]] over a [[Layout]]; `batchUpserts` in
    * (vec_id, embedding) naming.
    */
  private[streaming] def maybeRefreshOnDrift(lay: Layout, spark: SparkSession,
                                             indexDir: String, batchUpserts: DataFrame,
                                             policy: RefreshPolicy): Option[DataFrame] = {
    // baseline FIRST: its require gives the intended "no committed index"
    // diagnostic on an uncommitted dir (readCentroids would otherwise
    // surface an opaque PATH_NOT_FOUND while building the scored frame)
    val baseRows = readRefreshBaseline(lay, spark, indexDir).collect()
    if (baseRows.isEmpty) return None // nothing frozen yet (empty corpus)
    // zero-norm rows are excluded BY NORM, mirroring writeBaseline; the
    // batch mean uses the frozen one's rounding grain, so a batch that IS
    // the baseline corpus scores sag = 0 exactly
    val sig = Similarity.assignBucketsScored(batchUpserts, readCentroids(spark, indexDir))
      .filter(col("norm") > 0)
      .agg(DriftRule.mean6(col("acos")).as("m"), count(lit(1)).as("n")).collect()(0)
    val fired = !sig.isNullAt(0) && sig.getLong(1) >= policy.minBatchRows &&
      DriftRule.oneSidedFired(baseRows(0).getDouble(0) - sig.getDouble(0),
        baseRows(0).getDouble(1), policy.z)
    if (fired) Some(refreshCentroids(lay, spark, indexDir, policy.lloydIters, policy.tol))
    else None
  }

  /** [[processBatch]] with the drift policy closed-loop: commit the batch,
    * then judge its upserts and re-center when they drifted
    * ([[maybeRefreshOnDrift]]). Single-writer like everything else on the
    * store — the refresh runs inline between batches, exactly where the
    * maintenance stream serializes it. Returns the refreshed centroids
    * when the batch fired the policy. A redelivered (already-committed)
    * batch is skipped entirely — it must not re-judge drift either.
    */
  def processBatchWithPolicy(docs: DataFrame, batchId: Long, indexDir: String,
                             centroids: DataFrame,
                             policy: RefreshPolicy = RefreshPolicy(),
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             opCol: Option[String] = None,
                             compactSegments: Int = 8): Option[DataFrame] =
    processBatchWithPolicy(docLayout, asCore(docs, idCol, vecCol, opCol.map(col).toSeq: _*),
      batchId, indexDir, asCore(centroids, idCol, vecCol), policy, opCol, compactSegments)

  /** [[processBatchWithPolicy]] over a [[Layout]]; `docs` and `centroids`
    * in (vec_id, embedding) naming.
    */
  private[streaming] def processBatchWithPolicy(lay: Layout, docs: DataFrame, batchId: Long,
                                                indexDir: String, centroids: DataFrame,
                                                policy: RefreshPolicy, opCol: Option[String],
                                                compactSegments: Int): Option[DataFrame] = {
    if (batchId <= SegmentStore.readManifest(indexDir).lastBatch) return None
    processBatch(lay, docs, batchId, indexDir, centroids, opCol, compactSegments)
    val upserts = opCol.fold(docs)(c => docs.filter(col(c) =!= "d"))
    maybeRefreshOnDrift(lay, docs.sparkSession, indexDir, upserts, policy)
  }

  /** Run `each` on every micro-batch of `docs` (the maintenance stream). */
  private[streaming] def attach(docs: DataFrame, checkpoint: String)
                               (each: (DataFrame, Long) => Any): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) => each(batch, batchId); () }
      .start()

  /** Attach index maintenance to a vector-change stream. */
  def attachIndexMaintenance(docs: DataFrame, indexDir: String, checkpoint: String,
                             centroids: DataFrame,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             opCol: Option[String] = None,
                             compactSegments: Int = 8): StreamingQuery =
    attach(docs, checkpoint)(
      processBatch(_, _, indexDir, centroids, idCol, vecCol, opCol, compactSegments))

  /** [[attachIndexMaintenance]] with the drift-refresh policy in the loop:
    * every micro-batch is committed, judged, and — when it drifted — the
    * index re-centers itself before the next batch. The long-running
    * stream no longer needs a human to notice recall sagging.
    */
  def attachIndexMaintenanceWithPolicy(docs: DataFrame, indexDir: String,
                                       checkpoint: String, centroids: DataFrame,
                                       policy: RefreshPolicy = RefreshPolicy(),
                                       idCol: String = "vec_id",
                                       vecCol: String = "embedding",
                                       opCol: Option[String] = None,
                                       compactSegments: Int = 8): StreamingQuery =
    attach(docs, checkpoint)(processBatchWithPolicy(_, _, indexDir, centroids, policy,
      idCol, vecCol, opCol, compactSegments))
}
