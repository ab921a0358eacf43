package graft.streaming

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, Type => ParquetType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.streaming.SegmentStore.{atomicWrite, deleteRecursively, deleteWhere, readDirs}
import graft.streaming.TxReplayStream._
import graft.tx.TxReplay

/** Streaming execution of the transactionally consistent join+aggregation:
  * the micro-batch LSN-ordered replay design (SURVEY §7.3 path (a)).
  *
  * Each micro-batch contributes new left/right change events and tx END
  * events. The engine buffers them (parquet segment dirs — the
  * operator-state analogue of the reference's checkpointed ListState,
  * `TxAware…Operator.java:100-160`), replays the full buffer with
  * [[TxReplay.replay]], emits only documents for transactions whose commit
  * LSN is above the previous watermark (exactly-once per (key, tx) across
  * batches), advances the watermark to the largest reachable commit LSN, and
  * compacts state exactly like the reference's `cleanupState`
  * (`TxAware…Operator.java:357-430`): latest record per key (left) / per
  * (key, line) (right) among emitted transactions, plus all future and
  * still-unfinished (no END yet) events.
  *
  * INCREMENTAL STATE — ONE SEGMENT LIST PER SIDE: each side's event state
  * is an ordered LIST of immutable parquet segments, `left|right/v<n>`. A
  * micro-batch APPENDS its side's delta as one segment (only this batch's
  * new events; the write's width follows the planned data size, so a small
  * delta is one file, written with no shuffle, and a large one still
  * writes in parallel). Once a side's list reaches `compactSegments`, the
  * batch COMPACTS it instead: all live segments plus the batch's fresh
  * events rewritten as one segment through the reference's `cleanupState`
  * rule, and no append that batch. So
  * per-batch write cost is O(delta) every batch, and the full compaction
  * cost is amortized 1/compactSegments — the parquet analogue of an LSM /
  * state store, and of ListState's O(delta) updates
  * (`TxAware…Operator.java:432-444`). Deferred compaction is semantically
  * free: replay's as-of `max_by` tolerates superseded versions, settled txs
  * are floored out of completeness by the watermark, and the END-retention
  * rule below keeps the enrichment rows not-yet-compacted events still
  * need. Why one list and not a key-hash partition of lists: the replay
  * scans the whole buffer every batch anyway, so compacting only part of it
  * saves nothing asymptotically, while every partition costs one more file
  * per append and one more dir per scan. A batch of a few thousand events
  * touches every partition, so all partitions filled and compacted in
  * lockstep anyway (a 16-way split compacted all 32 side partitions on the
  * same trigger) — one list per side costs 2 files per append, and the
  * replay scans at most 2 × compactSegments dirs.
  *
  * Replay still READS the full segment set each batch — that is the
  * micro-batch replay design itself — but as a parallel column-pruned SCAN
  * only, once per side, for the as-of joins: the replay is handed its
  * probes (trigger-bounded delta) and broadcasts them, so the buffer is
  * never shuffled, never scanned to find the probes, and every exchange in
  * the per-batch plan is delta-sized. Completeness never reads the buffer
  * either, and the tx dimension runs no Spark job beyond one aggregate of
  * the batch's deltas: the END rows by tx id, the per-tx counts
  * ((n_left, n_right, first_b), one entry per live tx, settled entries
  * dropped), each live tx's key set and the evicted ids are held in driver
  * memory between batches, as the reference's parallelism-1
  * `WatermarkInjector` holds its running per-tx counters
  * (`WatermarkInjector.java:74-144`, O(delta) per event, never a rescan).
  * Each batch collects its delta counts and keys (one `groupBy("tx_id")`)
  * and its new ENDs, then merges, evicts, finds the stall point and the new
  * watermark in plain Scala; the replay gets the END table and its probes —
  * each reachable tx's keys at its commit LSN, the keys that tx changed,
  * which the reference flushes at watermark L (`TxAware…Operator.java:
  * 221-266`) — and the compaction the END table, as local relations.
  * The `ends`/`counts`/`evicted` dirs are still written every version, one
  * parquet file each, by the driver itself from the local rows (no Spark
  * job), so a fresh instance loads the held state from them on first use;
  * the key sets are not persisted, a fresh instance re-derives them with
  * one scan (see `loadTxDim`). END retention: on append-only batches the
  * whole (small) END table carries over unchanged — no scan; on batches
  * that compacted a side, settled ENDs referenced by any kept event (a
  * single-column scan of the new segment set) plus all not-yet-settled ENDs
  * are retained, so the scan amortizes with compaction. Independent
  * per-batch writes (left/right append segments, counts, ENDs) run
  * CONCURRENTLY with the replay — Spark schedules their small jobs onto
  * idle cores.
  *
  * RESTART/RECOVERY: the layout's format stamp, scalar progress (state
  * version, watermark, last committed batch id) and both sides' live
  * segment lists are persisted in `stateRoot/MANIFEST`, committed with
  * [[SegmentStore.atomicWrite]] (tmp file + atomic move) AFTER the batch's
  * state and emitted docs are durable — the parquet-state analogue of the
  * reference's checkpointed operator state. A fresh instance over the same
  * `stateRoot` resumes from the manifest, and refuses a manifest without
  * this layout's stamp; [[TxReplayStream.attach]] skips micro-batches
  * at-or-below the committed batch id and REDELIVERS the committed batch's
  * persisted output (Structured Streaming re-runs the last batch whose sink
  * didn't commit), so a restart neither loses nor double-emits documents.
  * Segment dirs not named by the committed manifest are pruned
  * ([[SegmentStore.deleteWhere]]); a crash mid-batch leaves the old
  * manifest naming only fully-written old dirs, and the half-written next
  * version is overwritten on redelivery. Every state read goes through
  * [[SegmentStore.readDirs]]: the dirs the manifest names, in the schema the
  * engine wrote them with.
  *
  * Scale: event state lives in parquet files, all operations on it are the
  * same scans and delta-sized shuffles as the batch replay; a compaction is
  * one keyed aggregate over the side's buffer, as wide as the session's
  * shuffle parallelism. The driver holds the watermark scalar, batch
  * counter, two segment lists of at most `compactSegments` entries, and the
  * tx dimension: one END row and one counts entry per retained transaction,
  * the evicted ids, and the key sets of the unsettled txs, O(distinct (tx,
  * key) pairs of unsettled txs). That adds no scale constraint: the replay
  * broadcasts the whole END table every batch (commit-LSN fixing,
  * compaction's split), the watermark rule needs every unsettled tx's
  * completeness on the driver anyway — a broadcast IS a driver collect —
  * and for reachable txs the key sets are the probe broadcast itself, the
  * same order as the probe set the replay broadcast when it derived it from
  * the buffer. Behind a stalled tx they grow as the on-disk buffer does, by
  * every later tx's keys, and a settle or an eviction drops them with the
  * counts entry. Per-batch replay cost is bounded by the compacted buffer
  * scan, per-batch WRITE cost by the batch's delta.
  *
  * RELATION TO THE `transformWithState` DESIGN ([[TxReplayNative]], design
  * (b) of SURVEY §7.3 — now also implemented): the contiguous commit-LSN
  * watermark is a GLOBAL property — tx L may only emit when every tx with a
  * smaller commit LSN is complete — and a keyed `StatefulProcessor` sees
  * one key's slice of the world. The reference solves this with machinery
  * Spark deliberately lacks — a custom watermark TYPE broadcast in-band,
  * injected at parallelism 1 (`WatermarkInjector`; poc.md:264-266). This
  * engine's answer is the micro-batch boundary itself: within a batch,
  * completeness and the stall point are plain driver-side folds over the
  * held tx dimension (the parallelism-1 step, taken once per batch), and
  * the per-LSN ordered flush is a deterministic bounded replay.
  * [[TxReplayNative]]'s answer is the reference's own: an explicit
  * parallelism-1 metadata sequencer stage between fully key-parallel
  * stateful operators, with per-key ListState buffers in the RocksDB state
  * store and per-event-shaped incremental work. Trade-off: this engine
  * re-plans and re-scans the buffer each batch but owns its state layout
  * (parquet segment lists); the native engine does delta-only work per
  * batch but pays the state-store encoder boundary per row and routes tx
  * metadata through one sequencer key. Both produce the same
  * emission sequence (TxReplayNativeSpec). The per-key halves that are
  * expressible as standalone keyed processors (commit-LSN fixing,
  * keep-latest, TOAST latching) live in [[Stateful]].
  *
  * TRANSPORT ASSUMPTION (same as the reference): transaction END events
  * arrive in commit-LSN order — Debezium's transaction topic is a single
  * Kafka partition, so an END for commit L arriving implies every END with
  * commit < L has arrived. An END is the only evidence a transaction exists;
  * if ENDs could arrive out of commit order, a not-yet-announced tx could
  * not stall the watermark and its late emissions would be filtered (and
  * state compaction would have discarded the history its as-of resolution
  * needs). DATA events may arrive in any order and any batch.
  */
class TxReplayStream(spark: SparkSession, stateRoot: String,
                     compactSegments: Int = 4,
                     evictAfterBatches: Option[Int] = None) {
  require(compactSegments > 0, s"compactSegments must be positive, got $compactSegments")
  require(evictAfterBatches.forall(_ > 0), "evictAfterBatches must be positive")

  private val manifestPath = Paths.get(stateRoot, "MANIFEST")

  @volatile private var version: Long = -1
  @volatile private var watermark: Long = Long.MinValue
  @volatile private var committedBatch: Long = -1
  // live segment versions per side, oldest first; empty = no data
  private var leftSegs: List[Long] = Nil
  private var rightSegs: List[Long] = Nil

  // Recover progress from the manifest (crash/restart path): the manifest is
  // only ever moved into place after its version's state dirs are fully
  // written, so whatever it names is safe to resume from.
  if (Files.exists(manifestPath)) {
    Files.readAllLines(manifestPath).asScala.toList.map(_.trim.split(" ").toList) match {
      case List(ManifestFormat) :: List(v, w, b) :: ("left" :: ls) :: ("right" :: rs) :: Nil =>
        version = v.toLong
        watermark = w.toLong
        committedBatch = b.toLong
        leftSegs = ls.map(_.toLong)
        rightSegs = rs.map(_.toLong)
      case _ => throw new IllegalStateException(s"state root $stateRoot holds no " +
        s"$ManifestFormat state (its MANIFEST has another layout); resume it with the " +
        "engine that wrote it, or start this one on a fresh state root")
    }
  }

  // The tx dimension, held on the driver between batches (class doc):
  // loaded from the committed version's dirs on first use, replaced only
  // after a batch's manifest commit, so a failed batch leaves it as committed.
  @volatile private var dim: Option[TxDim] = None

  /** The held tx dimension; the event schemas type the held keys when it
    * loads from disk.
    */
  private def txDim(leftSchema: StructType, rightSchema: StructType): TxDim =
    dim.getOrElse {
      val d = loadTxDim(leftSchema, rightSchema)
      dim = Some(d)
      d
    }

  private def scalarRows(name: String, schema: StructType): Array[Row] =
    readScalar(name, schema).map(_.collect()).getOrElse(Array.empty)

  private def loadEvicted(): Vector[Long] =
    scalarRows("evicted", txIdSchema).map(_.getLong(0)).toVector

  /** The committed version's `ends`, `counts` and `evicted` dirs, collected,
    * and the held txs' key sets. The key sets are not persisted: one
    * column-pruned `(key, tx_id)` scan of the live segments, filtered to
    * the held txs, re-derives them once per restart; compaction never drops
    * an event of an unsettled tx, so it sees all of their keys.
    */
  private def loadTxDim(leftSchema: StructType, rightSchema: StructType): TxDim = {
    val ends = scalarRows("ends", endsSchema).map(r => r.getLong(0) -> endOf(r)).toMap
    val counts = scalarRows("counts", countsSchema)
      .map(r => r.getLong(0) -> Counts(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val keys: Map[Long, Set[Any]] =
      if (counts.isEmpty) Map.empty
      else {
        def side(name: String, segs: List[Long], schema: StructType) =
          readSegs(name, segs, StructType(Seq(schema("key"), txIdSchema("tx_id"))))
        (side("left", leftSegs, leftSchema) ++ side("right", rightSegs, rightSchema))
          .reduceOption(_ unionByName _)
          .map(_.filter(col("tx_id").isInCollection(counts.keys))
            .groupBy("tx_id").agg(collect_set("key")).collect()
            .map(r => r.getLong(0) -> r.getSeq[Any](1).toSet).toMap)
          .getOrElse(Map.empty)
      }
    TxDim(ends, counts, keys, loadEvicted())
  }

  private def localFrame(rows: Iterable[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema)

  private def dir(name: String, v: Long) = s"$stateRoot/$name/v$v"

  /** Write driver-held rows of an all-long `schema` as scalar dir `name` at
    * version `v`: one parquet file, written by the driver itself — no Spark
    * job. A leftover dir of a crashed attempt at `v` is replaced.
    */
  private def writeScalar(name: String, rows: Iterable[Row], schema: StructType,
                          v: Long): Unit = {
    val d = Paths.get(dir(name, v))
    deleteRecursively(d)
    Files.createDirectories(d)
    val fileType = new MessageType("spark_schema",
      schema.fieldNames.toSeq.map(n => Types.optional(INT64).named(n): ParquetType): _*)
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(d.resolve("part-00000.parquet")))
      .withType(fileType).withConf(new PlainParquetConfiguration())
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(fileType)
    try rows.foreach { r =>
      val g = groups.newGroup()
      schema.fieldNames.zipWithIndex.foreach { case (n, i) => g.append(n, r.getLong(i)) }
      writer.write(g)
    } finally writer.close()
  }

  /** Write `df` as segment dir `name/v<v>` in `width` tasks (files),
    * replacing a crashed attempt's leftover.
    */
  private def writeSegment(name: String, df: DataFrame, width: Int, v: Long): Unit =
    df.coalesce(width).write.mode(SaveMode.Overwrite).parquet(dir(name, v))

  /** The write width for a segment built from `input`: one task per
    * adaptive-execution advisory partition size of its planned size, at
    * most the shuffle parallelism — a small delta lands in one file with no
    * shuffle, a large one still writes in parallel. A plan without a size
    * estimate is written at the cap.
    */
  private def widthOf(input: DataFrame): Int = {
    val conf = spark.sessionState.conf
    (input.queryExecution.optimizedPlan.stats.sizeInBytes /
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) + 1)
      .min(BigInt(conf.numShufflePartitions)).toInt
  }

  private def readSegs(name: String, segs: List[Long],
                       schema: StructType): Option[DataFrame] =
    if (segs.isEmpty) None else Some(readDirs(spark, segs.map(dir(name, _)), schema))

  private def readScalar(name: String, schema: StructType): Option[DataFrame] = {
    val p = dir(name, version)
    if (version >= 0 && Files.exists(Paths.get(p)))
      Some(readDirs(spark, Seq(p), schema))
    else None
  }

  private def unionWith(state: Option[DataFrame], fresh: DataFrame): DataFrame =
    state.map(_.unionByName(fresh)).getOrElse(fresh)

  private def commitManifest(v: Long, w: Long, b: Long, ls: List[Long], rs: List[Long]): Unit =
    atomicWrite(manifestPath,
      Seq(ManifestFormat, s"$v $w $b", ("left" :: ls).mkString(" "), ("right" :: rs).mkString(" "))
        .mkString("\n"))

  /** Drop state files unreachable from the committed manifest: segment dirs
    * not in their side's live list, and scalar (ends/emitted/counts/evicted)
    * versions below the current.
    */
  private def prune(ls: List[Long], rs: List[Long], keep: Long): Unit = {
    // toLongOption: a stray non-state entry must not kill the query
    def version(n: String): Option[Long] =
      if (n.startsWith("v")) n.drop(1).toLongOption else None
    for ((name, live) <- Seq("left" -> ls, "right" -> rs))
      deleteWhere(Paths.get(stateRoot, name))(version(_).exists(v => !live.contains(v)))
    for (name <- Seq("ends", "emitted", "counts", "evicted"))
      deleteWhere(Paths.get(stateRoot, name))(version(_).exists(_ < keep))
  }

  /** Process one micro-batch of new events; returns the emitted documents
    * (TxReplay.replay output schema), read back from their durable copy so
    * the result stays valid after state pruning. Call from `foreachBatch` —
    * or directly for deterministic batch-at-a-time testing (batchId then
    * defaults to the next sequential id).
    *
    * PER-BATCH COST SHAPE: the only full-buffer work left is the replay's
    * SCAN — which is the micro-batch replay design — and, one batch in
    * `compactSegments` per side, that side's compaction. Everything else is
    * delta- or dimension-sized:
    *  - the tx dimension costs one Spark job: a `groupBy("tx_id")` collect
    *    of the cached deltas' counts and keys (plus the new ENDs' collect,
    *    jobless when they arrive as a local relation). The END merge, the
    *    counts and key-set merges, eviction, the stall point, the watermark
    *    and END retention run in plain Scala over the driver-held state, so
    *    no exchange merges ENDs or counts and nothing scans `ends/` or
    *    `counts/`;
    *  - state writes are one append segment per side holding only this
    *    batch's events, started as soon as the deltas are cached; a side
    *    whose list is full compacts instead, and only then is its
    *    compaction plan built;
    *  - the probes are a driver-built local relation from the held key
    *    sets, not a buffer scan: the replay scans each side of the buffer
    *    once (for the as-of joins), broadcasts the probes into both joins,
    *    never shuffles the buffered state, and every exchange is
    *    delta-sized;
    *  - END retention is a no-scan carry-over on append-only batches, whose
    *    `ends` write starts as soon as the watermark is known;
    *  - state reads launch no Spark job: they go through the store I/O
    *    layer's reader ([[SegmentStore.readDirs]]), which lists the dirs
    *    the manifest names on the driver and scans them with the schema the
    *    engine wrote them with, so no schema-inference or listing job runs;
    *    the manifest commit and the prune are that layer's too
    *    ([[SegmentStore.atomicWrite]], [[SegmentStore.deleteWhere]]);
    *  - the counts/evicted/ends dirs are written by the driver, one parquet
    *    file each and no Spark job; they, the appends and the compactions
    *    all run concurrently with the replay.
    */
  def processBatch(newLeft0: DataFrame, newRight0: DataFrame,
                   newEnds: DataFrame, batchId: Long = -1L): DataFrame = {
    // cache the DELTAS: each is consumed ~4× per batch (counts, append
    // segment, compaction input, replay union), and in `attach` streaming use every
    // uncached read re-runs the upstream micro-batch source. The full state
    // union is NOT cached — its only consumer is the replay (two scans per
    // side), and a parquet re-scan of the segment files beat paying an
    // InMemoryRelation materialization pass each batch (part of the
    // 37.4 s → 32.6 s same-boot step in SCALING.md's r6 table).
    val newLeft = newLeft0.cache()
    val newRight = newRight0.cache()
    // state files hold exactly what this engine wrote from frames of the
    // input's shape, so the input's schema is the state's schema
    val leftSchema = newLeft.schema
    val rightSchema = newRight.schema
    val left = unionWith(readSegs("left", leftSegs, leftSchema), newLeft)
    val right = unionWith(readSegs("right", rightSegs, rightSchema), newRight)

    // A side whose list is full compacts this batch (and writes no append);
    // the other appends its delta. Both land at one new version. Append
    // jobs start IMMEDIATELY — they need only the delta — and run under the
    // eviction/watermark work; compactions (which need the new watermark)
    // join them concurrently with the replay. An empty delta's segment is
    // written but not named, and the prune removes it.
    val vNext = version + 1
    val compactLeft = leftSegs.size >= compactSegments
    val compactRight = rightSegs.size >= compactSegments
    def append(name: String, delta: DataFrame, compacts: Boolean): Option[Future[Unit]] =
      if (compacts) None
      else Some(Future(writeSegment(name, delta, widthOf(delta), vNext)))
    val appendLeftF = append("left", newLeft, compactLeft)
    val appendRightF = append("right", newRight, compactRight)

    val thisBatch = if (batchId >= 0) batchId else committedBatch + 1

    try {
      val prev = txDim(leftSchema, rightSchema)
      // Incremental per-tx counts: the held counts ⊎ this batch's delta
      // counts — the tx dimension's one Spark job, a partial-aggregated
      // collect of the cached deltas. It starts together with the append
      // jobs on the unfilled delta caches; a task that loses the race for
      // a cache block waits for the winner's write and reads its block
      // (Spark logs "Block rdd_N_P already exists"), so no delta row is
      // computed twice. `first_b` is the eviction clock: the first batch
      // that sighted the tx (END rows contribute 0 counts but start the
      // clock for END-only transactions). On a duplicate END the held one
      // wins. The same job collects each tx's keys, merged into the held
      // key sets the probes come from, and sizes each side's delta.
      val deltaEvents =
        newLeft.select(col("tx_id"), col("key"), lit(1L).as("n_left"), lit(0L).as("n_right"))
          .unionByName(newRight.select(col("tx_id"), col("key"),
            lit(0L).as("n_left"), lit(1L).as("n_right")))
      val deltaGroups = deltaEvents
        .groupBy("tx_id").agg(sum("n_left"), sum("n_right"), collect_set("key")).collect()
      val appendsLeft = deltaGroups.exists(_.getLong(1) > 0)
      val appendsRight = deltaGroups.exists(_.getLong(2) > 0)
      val deltaCounts = deltaGroups.filterNot(_.isNullAt(0))
      val newEndRows = newEnds.select(endsSchema.fieldNames.toIndexedSeq.map(col): _*)
        .collect().filterNot(_.isNullAt(0))
      val ends = newEndRows.foldLeft(prev.ends) { (m, r) =>
        if (m.contains(r.getLong(0))) m else m.updated(r.getLong(0), endOf(r))
      }
      val sightings = deltaCounts.iterator
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ++
        newEndRows.iterator.map(r => (r.getLong(0), 0L, 0L))
      val counts = sightings.foldLeft(prev.counts) { case (m, (id, l, r)) =>
        m.updated(id, m.get(id).fold(Counts(l, r, thisBatch))(c =>
          Counts(c.nLeft + l, c.nRight + r, c.firstB)))
      }
      val keys = deltaCounts.foldLeft(prev.keys) { (m, r) =>
        val id = r.getLong(0)
        m.updated(id, m.getOrElse(id, Set.empty[Any]) ++ r.getSeq[Any](3))
      }
      def complete(id: Long, e: End): Boolean = {
        val c = counts.get(id)
        c.fold(0L)(_.nLeft) == e.expectedLeft && c.fold(0L)(_.nRight) == e.expectedRight
      }

      // Stall-timeout eviction (opt-in): transactions still incomplete
      // `evictAfterBatches` batches after first sighting are abandoned —
      // removed from completeness (the watermark advances past them) and
      // anti-joined out of every read path, so their partial events are
      // never applied and vanish at the next compaction. The id list is
      // persisted per version; it must persist for the query's lifetime —
      // an evicted tx's late stragglers keep entering append segments and
      // are re-filtered on every read.
      val newlyEvicted: Seq[Long] = evictAfterBatches match {
        case None => Nil
        case Some(n) =>
          val prevEvicted = prev.evicted.toSet
          def stale(id: Long) = counts.get(id).fold(thisBatch)(_.firstB) <= thisBatch - n
          val annStale = ends.iterator.collect {
            case (id, e) if !prevEvicted(id) && e.commitLsn > watermark &&
              !complete(id, e) && stale(id) => id
          }
          val unannStale = counts.keysIterator.filter(id => !ends.contains(id) && stale(id))
          (annStale ++ unannStale).toSeq.distinct
      }
      if (newlyEvicted.nonEmpty)
        // loud by design: every eviction is data loss a human accepted by
        // configuring the timeout — it must be traceable, never silent
        System.err.println(s"[TxReplayStream] batch $thisBatch EVICTED stalled " +
          s"transactions ${newlyEvicted.sorted.mkString(", ")} (incomplete after " +
          s"${evictAfterBatches.get} batches); their partial events will never apply")
      val evicted: Vector[Long] = (prev.evicted ++ newlyEvicted).distinct
      def exceptEvicted(df: DataFrame): DataFrame =
        if (evicted.isEmpty) df
        else df.filter(!col("tx_id").isInCollection(evicted))
      val ends2 = ends -- evicted
      val left2 = exceptEvicted(left)
      val right2 = exceptEvicted(right)

      // The stall point, reachability and the new watermark over every
      // unsettled announced tx — settled (already-emitted and compacted)
      // txs are floored out, their shrunken buffers must not read as
      // "incomplete" and stall the watermark.
      val unsettled = ends2.iterator.filter(_._2.commitLsn > watermark).toSeq
      val stallLsn = unsettled.iterator.collect {
        case (id, e) if !complete(id, e) => e.commitLsn
      }.minOption.getOrElse(Long.MaxValue)
      val reachable = unsettled.collect {
        case (id, e) if complete(id, e) && e.commitLsn < stallLsn => id -> e.commitLsn
      }
      val newWm = (watermark +: reachable.map(_._2)).max
      val endsFrame = localFrame(ends2.map { case (id, e) => endRow(id, e) }, endsSchema)

      // Persist the per-tx counts for the next batch's completeness, minus
      // settled and evicted txs (their counts can never be consulted again:
      // the floor excludes them from both the stall rule and reachability).
      // Their held keys go with them.
      val keptCounts = counts.filter { case (id, _) =>
        !evicted.contains(id) && !ends2.get(id).exists(_.commitLsn <= newWm)
      }
      val keptKeys = keys.filter { case (id, _) => keptCounts.contains(id) }
      val countsF = Future(writeScalar("counts",
        keptCounts.map { case (id, c) => Row(id, c.nLeft, c.nRight, c.firstB) },
        countsSchema, vNext))
      // the evicted list rides the same versioned-scalar scheme; written
      // whenever the feature is on or a list already exists
      val evictedF =
        if (evictAfterBatches.isEmpty && evicted.isEmpty) None
        else Some(Future(writeScalar("evicted", evicted.map(Row(_)), txIdSchema, vNext)))

      // compaction (cleanupState) of a full side: its live segments plus
      // the CACHED delta, folded into one segment — no dependency on an
      // append write, and it runs concurrently with the replay. Enrich to
      // learn each event's commit LSN and whether its tx is at or below the
      // new watermark; unfinished events (no END yet) stay raw in the
      // buffer. The `past` flag is decided here on the driver and travels
      // as data: a watermark literal in the filter would make every
      // compacting trigger generate and compile new code.
      lazy val endsKeyed = localFrame(ends2.map { case (id, e) =>
        Row(id, e.commitLsn, e.commitLsn <= newWm)
      }, endsKeyedSchema)
      def split(ev: DataFrame, latestKeys: Seq[String]): DataFrame = {
        val enriched = ev.join(broadcast(endsKeyed), Seq("tx_id"))
        val unfinished = ev.join(broadcast(endsKeyed.select("tx_id")), Seq("tx_id"), "left_anti")
        val latestPast = enriched.filter(col("past"))
          .groupBy(latestKeys.map(col): _*)
          .agg(max_by(struct(ev.columns.map(col).toIndexedSeq: _*),
            struct(col("commit_lsn"), col("lsn"))).as("_keep"))
          .select(col("_keep.*"))
        val future = enriched.filter(!col("past")).select(ev.columns.map(col).toIndexedSeq: _*)
        latestPast.unionByName(future).unionByName(unfinished)
      }
      // evicted txs' events leave the buffer here, at their side's next
      // compaction — never applied, reclaimed without a dedicated pass
      def compact(name: String, segs: List[Long], fresh: DataFrame,
                  latestKeys: Seq[String]): Future[Unit] = Future {
        val input = exceptEvicted(unionWith(readSegs(name, segs, fresh.schema), fresh))
        writeSegment(name, split(input, latestKeys), widthOf(input), vNext)
      }
      val compactLeftF = if (compactLeft) Some(compact("left", leftSegs, newLeft, Seq("key")))
        else None
      val compactRightF =
        if (compactRight) Some(compact("right", rightSegs, newRight, Seq("key", "line_id")))
        else None

      // END retention. Append-only batch: every previously retained END is
      // still referenced (no event left the buffer), so the END table
      // carries over as-is — zero scans, and its write starts now.
      // Compacting batch: retain settled ENDs referenced by ANY kept event —
      // the tx_id column of the NEW segment set (the just-written segments
      // plus the other side's live files, a single-column scan) — plus all
      // ENDs not yet settled. Not-yet-compacted events need their settled
      // ENDs to learn commit LSNs at their eventual compaction; dropping
      // one would reclassify its events as unfinished and stall the
      // watermark.
      def writeEnds(kept: Map[Long, End]): Map[Long, End] = {
        writeScalar("ends", kept.map { case (id, e) => endRow(id, e) }, endsSchema, vNext)
        kept
      }
      val appendOnly = !compactLeft && !compactRight
      val carriedEndsF = if (appendOnly) Some(Future(writeEnds(ends2))) else None

      // one doc per (key, tx) not yet emitted in an earlier batch; durability
      // order: emitted docs + segment state + ends first, manifest (atomic
      // move) last — a crash in between leaves the manifest at the old
      // version naming only old, fully-written dirs, and any half-written
      // v(next) output is overwritten on redelivery.
      // Nothing reachable (stalled or idle batch) → nothing can emit: skip
      // the replay's jobs entirely and persist an empty output (the schema
      // comes from plan ANALYSIS only — no execution).
      // The probes are every reachable tx's held keys at its commit LSN: a
      // driver-built local relation, so no job scans the buffer for them.
      val probes = localFrame(reachable.flatMap { case (id, lsn) =>
        keys.getOrElse(id, Set.empty).iterator.map(k => Row(k, lsn))
      }.distinct, StructType(Seq(deltaEvents.schema("key"), probeLsnField)))
      val replayPlan = TxReplay.replay(left2, right2, endsFrame, probes = Some(probes))
      val emitted =
        if (reachable.isEmpty) localFrame(Nil, replayPlan.schema)
        else replayPlan
      emitted.write.mode(SaveMode.Overwrite).parquet(dir("emitted", vNext))

      (Seq(countsF) ++ appendLeftF ++ appendRightF ++ compactLeftF ++ compactRightF ++ evictedF)
        .foreach(Await.result(_, Duration.Inf))
      def updated(segs: List[Long], compacts: Boolean, appends: Boolean): List[Long] =
        if (compacts) List(vNext) else if (appends) segs :+ vNext else segs
      val newLeftSegs = updated(leftSegs, compactLeft, appendsLeft)
      val newRightSegs = updated(rightSegs, compactRight, appendsRight)

      val keptEnds = carriedEndsF.map(Await.result(_, Duration.Inf)).getOrElse {
        val settled = ends2.collect { case (id, e) if e.commitLsn <= newWm => id }
        val referenced: Set[Long] =
          if (settled.isEmpty) Set.empty
          else (readSegs("left", newLeftSegs, txIdSchema) ++
              readSegs("right", newRightSegs, txIdSchema))
            .reduceOption(_ union _)
            .map(_.filter(col("tx_id").isInCollection(settled)).distinct()
              .collect().map(_.getLong(0)).toSet)
            .getOrElse(Set.empty)
        writeEnds(ends2.filter { case (id, e) => e.commitLsn > newWm || referenced(id) })
      }

      commitManifest(vNext, newWm, thisBatch, newLeftSegs, newRightSegs)
      version = vNext
      watermark = newWm
      committedBatch = thisBatch
      leftSegs = newLeftSegs
      rightSegs = newRightSegs
      dim = Some(TxDim(keptEnds, keptCounts, keptKeys, evicted))
      prune(newLeftSegs, newRightSegs, vNext)
      readDirs(spark, Seq(dir("emitted", vNext)), replayPlan.schema)
    } finally {
      newLeft.unpersist()
      newRight.unpersist()
    }
  }

  /** Current watermark (largest emitted commit LSN; MinValue before any). */
  def currentWatermark: Long = watermark

  /** Transactions evicted by the stall timeout over this query's lifetime
    * (empty when the feature is off) — the audit surface: every id here is
    * a transaction whose partial events were deliberately dropped.
    */
  def evictedTxIds: Seq[Long] = dim.fold(loadEvicted())(_.evicted).sorted

  /** Distinct (tx, key) pairs the held key sets hold — test visibility
    * into the driver state the probes come from (0 before the first load).
    */
  private[streaming] def heldKeyCount: Int = dim.fold(0)(_.keys.valuesIterator.map(_.size).sum)

  /** Last micro-batch id whose state+output are durably committed. */
  def lastCommittedBatch: Long = committedBatch

  /** Live segment versions of `side` ("left"/"right"), oldest first, as the
    * one entry (0) of a map — test and trace visibility into the layout.
    */
  def liveSegments(side: String): Map[Int, Seq[Long]] =
    Map(0 -> (if (side == "left") leftSegs else rightSegs))

  /** The committed output of the newest processed batch — what a restarted
    * query must redeliver when Structured Streaming re-runs a batch the
    * engine already committed but the sink did not.
    */
  def lastEmitted: DataFrame = {
    require(version >= 0, "no batch committed yet")
    // the one inferring read left: it runs once per restart, and the emitted
    // schema follows the input row types of batches this instance has not seen
    spark.read.parquet(dir("emitted", version))
  }
}

object TxReplayStream {

  /** First line of every MANIFEST this engine writes: the state layout (one
    * segment list per side, driver-written scalar dirs). A MANIFEST of any
    * other layout is refused, never migrated.
    */
  private val ManifestFormat = "txreplay-segment-lists-1"

  private def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType)))

  /** The END table as persisted in `ends/v<n>`: the END event contract. */
  private val endsSchema = longs("tx_id", "commit_lsn", "expected_left", "expected_right")

  /** The per-tx completeness counts as persisted in `counts/v<n>`. */
  private val countsSchema = longs("tx_id", "n_left", "n_right", "first_b")

  /** A tx id column: the evicted-transaction audit list as persisted in
    * `evicted/v<n>`, and the column-pruned read of the event segments.
    */
  private val txIdSchema = longs("tx_id")

  /** Compaction's END lookup: commit LSN and whether the tx is settled by
    * the batch's new watermark.
    */
  private val endsKeyedSchema = longs("tx_id", "commit_lsn").add("past", BooleanType)

  /** The probes' LSN column; their key column is typed as the events' key. */
  private val probeLsnField = StructField("probe_lsn", LongType)

  /** An END event, keyed by its tx id in the held tx dimension. */
  private final case class End(commitLsn: Long, expectedLeft: Long, expectedRight: Long)

  private def endOf(r: Row): End = End(r.getLong(1), r.getLong(2), r.getLong(3))
  private def endRow(txId: Long, e: End): Row =
    Row(txId, e.commitLsn, e.expectedLeft, e.expectedRight)

  /** A tx's event counts so far and `firstB`, the batch that first sighted
    * it (the eviction clock).
    */
  private final case class Counts(nLeft: Long, nRight: Long, firstB: Long)

  /** The tx dimension the engine holds on the driver between batches: the
    * retained END table, counts of every live tx, the keys each live tx's
    * events touched so far, and the evicted ids.
    */
  private final case class TxDim(ends: Map[Long, End], counts: Map[Long, Counts],
                                 keys: Map[Long, Set[Any]], evicted: Vector[Long])

  /** Wire the replay engine into a Structured Streaming query: one unioned
    * input stream (left/right/END events discriminated by `stream` ∈
    * {"l","r","t"} over the TxReplay column contracts, unused columns null),
    * split per micro-batch, replayed, and emitted docs handed to `onEmit`
    * (a Kafka writer in production; a sink table in tests). Returns the
    * started query.
    *
    * Restart semantics: on a redelivered batch (id == the engine's committed
    * batch) the engine is NOT re-run — the durably persisted output of that
    * batch is handed to `onEmit` again, so the sink sees the batch's docs
    * exactly as first produced (at-least-once delivery to the sink; combined
    * with an idempotent/upsert sink this is end-to-end exactly-once). Batches
    * below the committed id were already delivered AND committed downstream
    * (foreachBatch only replays the newest uncommitted batch) and are
    * ignored.
    */
  /** @param compactSegments per-side segment count that triggers
    *   compaction — the write-amplification / read-fanout dial
    * @param evictAfterBatches opt-in stall timeout, measured in batches: a
    *   transaction still incomplete this many batches after first sighting
    *   is abandoned — the watermark advances past it and its partial
    *   events are never applied (the same consistency trade as
    *   [[TxReplayNative.docs]]'s `stallTimeoutMs`, with the micro-batch
    *   counter as the clock). Size it ABOVE the worst-case transport lag
    *   between a transaction's events and its END marker: any tx whose END
    *   (or missing events) straggle longer than this is permanently lost —
    *   that is what a timeout means (EvictEquivalenceSpec pins the
    *   evicted ≡ never-existed semantics when the window is respected)
    */
  def attach(unioned: DataFrame, stateRoot: String, checkpoint: String,
             compactSegments: Int = 4,
             evictAfterBatches: Option[Int] = None)
            (onEmit: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val engine = new TxReplayStream(unioned.sparkSession, stateRoot,
      compactSegments, evictAfterBatches)
    unioned.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Continuity check: batch ids must line up with the manifest. A
        // mismatch beyond committed+1 means the CHECKPOINT and the engine's
        // STATE ROOT belong to different query incarnations (one was wiped
        // or swapped) — skipping or substituting batches there would
        // silently drop new data, so fail loudly instead.
        require(batchId <= engine.lastCommittedBatch + 1,
          s"batch $batchId arrived but the state manifest committed only up to " +
            s"${engine.lastCommittedBatch}: checkpoint ($checkpoint) and state " +
            s"root ($stateRoot) are from different query incarnations")
        if (batchId < engine.lastCommittedBatch) {
          // already processed and delivered in a previous incarnation
        } else if (batchId == engine.lastCommittedBatch) {
          onEmit(engine.lastEmitted, batchId) // redeliver committed output
        } else {
          val left = batch.filter(col("stream") === "l")
            .select("key", "op", "lsn", "tx_id", "row")
          val right = batch.filter(col("stream") === "r")
            .select("key", "line_id", "op", "lsn", "tx_id", "row")
          val ends = batch.filter(col("stream") === "t")
            .select("tx_id", "commit_lsn", "expected_left", "expected_right")
          onEmit(engine.processBatch(left, right, ends, batchId), batchId)
        }
      }
      .start()
  }
}
