package graft.streaming

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.streaming.SegmentStore.{atomicWrite, deleteRecursively, deleteWhere, readDirs}
import graft.streaming.TxReplayStream._
import graft.tx.TxReplay

/** Streaming execution of the transactionally consistent join+aggregation:
  * the micro-batch LSN-ordered replay design (SURVEY §7.3 path (a)).
  *
  * Each micro-batch contributes new left/right change events and tx END
  * events. The engine buffers them (bucketed parquet state dirs — the
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
  * INCREMENTAL STATE — LOG-STRUCTURED SEGMENTS (round-6 design): event state
  * is hash-bucketed by key — `pmod(hash(key), numBuckets)` — and each bucket
  * holds an ordered LIST of immutable parquet segments. A micro-batch
  * APPENDS one delta-sized segment per side (only this batch's new events);
  * a bucket is COMPACTED — all its segments plus the batch's fresh events
  * rewritten as one segment through the reference's `cleanupState` rule —
  * once its segment count reaches `compactSegments` (from the segment
  * table alone, dirty or not — compaction is semantically free anytime,
  * and an at-threshold bucket pays the identical rewrite on its next dirty
  * batch anyway; this is what lets the appends' staged-bucket set BE the
  * batch's dirty set, with no dedicated dirty-scan job). So per-batch write
  * cost is O(delta) every batch, and the full compaction cost is amortized
  * 1/compactSegments per bucket — the parquet analogue of an LSM / state
  * store, and of ListState's O(delta) updates
  * (`TxAware…Operator.java:432-444`). Deferred compaction is semantically
  * free: replay's as-of `max_by` tolerates superseded versions, settled txs
  * are floored out of completeness by the watermark, and the END-retention
  * rule below keeps the enrichment rows deferred buckets still need. The
  * bucket function must be stable across restarts (state outlives the JVM):
  * Spark's `hash()` is murmur3 with a fixed seed, stable across sessions
  * and cluster layouts.
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
  * The `ends`/`counts`/`evicted` dirs are still written every version, from
  * the local rows, so a fresh instance loads the held state from them on
  * first use; the key sets are not persisted, a fresh instance re-derives
  * them with one scan (see `loadTxDim`). END retention: on append-only batches the whole (small) END
  * table carries over unchanged — no scan; on batches that compacted
  * something, settled ENDs referenced by any kept event (a file-pruned
  * single-column scan of the new segment set) plus all not-yet-settled ENDs
  * are retained, so the scan amortizes with compaction. Independent
  * per-batch writes (left/right append segments, counts, ENDs) run
  * CONCURRENTLY with the replay — Spark schedules their small jobs onto
  * idle cores.
  *
  * RESTART/RECOVERY: scalar progress (state version, watermark, last
  * committed batch id, bucket count) plus the per-bucket live-segment table
  * is persisted in `stateRoot/MANIFEST`, committed with
  * [[SegmentStore.atomicWrite]] (tmp file + atomic move) AFTER the batch's
  * state and emitted docs are durable — the parquet-state analogue of the
  * reference's checkpointed operator state. A fresh instance over the same
  * `stateRoot` resumes from the manifest; [[TxReplayStream.attach]] skips
  * micro-batches at-or-below the committed batch id and REDELIVERS the
  * committed batch's persisted output (Structured Streaming re-runs the
  * last batch whose sink didn't commit), so a restart neither loses nor
  * double-emits documents. Segment dirs not named by the committed manifest
  * are pruned ([[SegmentStore.deleteWhere]]); a crash mid-batch leaves the
  * old manifest naming only fully-written old dirs, and the half-written
  * next version is overwritten on redelivery. Every state read goes through
  * [[SegmentStore.readDirs]]: the dirs the manifest names, in the schema the
  * engine wrote them with.
  *
  * Scale: event state lives in parquet partitions, all operations on it are
  * the same keyed scans and delta-sized shuffles as the batch replay. The
  * driver holds the watermark scalar, batch counter, the numBuckets-sized
  * segment table, and the tx dimension: one END row and one counts entry
  * per retained transaction, the evicted ids, and the key sets of the
  * unsettled txs, O(distinct (tx, key) pairs of unsettled txs). That adds
  * no scale constraint: the replay broadcasts the whole END table every
  * batch (commit-LSN fixing, compaction's split), the watermark rule needs
  * every unsettled tx's completeness on the driver anyway — a broadcast IS
  * a driver collect — and for reachable txs the key sets are the probe
  * broadcast itself, the same order as the probe set the replay broadcast
  * when it derived it from the buffer. Behind a stalled tx they grow as
  * the on-disk buffer does, by every later tx's keys, and a settle or an
  * eviction drops them with the counts entry. Per-batch replay cost is
  * bounded by the compacted buffer scan, per-batch WRITE cost by the
  * batch's delta.
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
  * (bucketed parquet, LSM segments); the native engine does delta-only
  * work per batch but pays the state-store encoder boundary per row and
  * routes tx metadata through one sequencer key. Both produce the same
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
                     numBuckets: Int = 16, compactSegments: Int = 4,
                     evictAfterBatches: Option[Int] = None) {
  require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
  require(compactSegments > 0, s"compactSegments must be positive, got $compactSegments")
  require(evictAfterBatches.forall(_ > 0), "evictAfterBatches must be positive")

  // GRAFT_TXSTREAM_PROFILE=1 prints per-phase wall times per batch
  private val profile = sys.env.get("GRAFT_TXSTREAM_PROFILE").exists(_ == "1")
  private def phased[T](label: String)(f: => T): T =
    if (!profile) f else {
      val t0 = System.nanoTime(); val r = f
      println(f"TXPHASE $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

  private val manifestPath = Paths.get(stateRoot, "MANIFEST")

  @volatile private var version: Long = -1
  @volatile private var watermark: Long = Long.MinValue
  @volatile private var committedBatch: Long = -1
  // Adopted from the manifest on resume — the on-disk layout wins over the
  // constructor argument (re-bucketing existing state would orphan files).
  @volatile private var buckets: Int = numBuckets
  // live segment versions per bucket, oldest first; empty = no data
  private var leftSegs: Array[List[Long]] = Array.fill(numBuckets)(Nil)
  private var rightSegs: Array[List[Long]] = Array.fill(numBuckets)(Nil)

  // Recover progress from the manifest (crash/restart path): the manifest is
  // only ever moved into place after its version's state dirs are fully
  // written, so whatever it names is safe to resume from. Bucket entries are
  // comma-joined segment lists ("-1" = empty); a pre-segment manifest's
  // single-version entries parse as one-element lists.
  if (Files.exists(manifestPath)) {
    val lines = Files.readAllLines(manifestPath)
    require(lines.size >= 3, s"corrupt state manifest at $manifestPath")
    val Array(v, w, b, nb) = lines.get(0).trim.split(" ")
    version = v.toLong
    watermark = w.toLong
    committedBatch = b.toLong
    buckets = nb.toInt
    def parseSegs(line: String): Array[List[Long]] =
      line.trim.split(" ").map(_.split(",").map(_.toLong).filter(_ >= 0).toList)
    leftSegs = parseSegs(lines.get(1))
    rightSegs = parseSegs(lines.get(2))
    require(leftSegs.length == buckets && rightSegs.length == buckets,
      s"manifest bucket table does not match its bucket count $buckets")
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
    * and the held txs' key sets. A counts row written before the eviction
    * clock (no `first_b`) loads [[Unsighted]]. The key sets are not
    * persisted: one column-pruned `(key, tx_id)` scan of the live segments,
    * filtered to the held txs, re-derives them once per restart; compaction
    * never drops an event of an unsettled tx, so it sees all of their keys.
    * A state root written before the counts table existed (a committed
    * version, no counts dir) seeds the counts from the same scan, unfiltered.
    */
  private def loadTxDim(leftSchema: StructType, rightSchema: StructType): TxDim = {
    val ends = scalarRows("ends", endsSchema).map(r => r.getLong(0) -> endOf(r)).toMap
    val held: Option[Map[Long, Counts]] =
      if (version >= 0 && !Files.exists(Paths.get(scalarDir("counts", version)))) None
      else Some(scalarRows("counts", countsSchema).map { r =>
        r.getLong(0) -> Counts(r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) Unsighted else r.getLong(3))
      }.toMap)
    val buffered: Array[Row] =
      if (held.exists(_.isEmpty)) Array.empty
      else {
        def side(name: String, segs: Array[List[Long]], schema: StructType, l: Long, r: Long) =
          readSegs(name, segs, StructType(Seq(schema("key"), txIdSchema("tx_id"))))
            .map(_.select(col("tx_id"), col("key"), lit(l).as("n_left"), lit(r).as("n_right")))
        (side("left", leftSegs, leftSchema, 1L, 0L) ++ side("right", rightSegs, rightSchema, 0L, 1L))
          .reduceOption(_ unionByName _)
          .map(df => held.fold(df)(h => df.filter(col("tx_id").isInCollection(h.keys))))
          .map(_.groupBy("tx_id").agg(sum("n_left"), sum("n_right"), collect_set("key"))
            .collect().filterNot(_.isNullAt(0)))
          .getOrElse(Array.empty)
      }
    val counts = held.getOrElse(ends.keys.map(_ -> Counts(0L, 0L, Unsighted)).toMap ++
      buffered.map(r => r.getLong(0) -> Counts(r.getLong(1), r.getLong(2), Unsighted)))
    TxDim(ends, counts, buffered.map(r => r.getLong(0) -> r.getSeq[Any](3).toSet).toMap,
      loadEvicted())
  }

  private def localFrame(rows: Iterable[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema)

  /** Write driver-held rows as scalar dir `name` at version `v`: one task,
    * one file.
    */
  private def writeScalar(name: String, rows: Iterable[Row], schema: StructType,
                          v: Long): Unit =
    localFrame(rows, schema).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(scalarDir(name, v))

  private def bucketDir(name: String, b: Int, v: Long) = s"$stateRoot/$name/b$b/v$v"
  private def scalarDir(name: String, v: Long) = s"$stateRoot/$name/v$v"

  private def bucketOf(c: Column): Column = pmod(hash(c), lit(buckets))

  /** Membership predicate on the row's key bucket; empty set → constant
    * false (Spark's `In` with an empty list is not a plan we want to rely
    * on), so `!inBuckets(empty)` is the everything-matches filter.
    */
  private def inBuckets(dirty: Set[Int]): Column =
    if (dirty.isEmpty) lit(false) else bucketOf(col("key")).isInCollection(dirty)

  private def readSegs(name: String, segs: Array[List[Long]],
                       schema: StructType): Option[DataFrame] = {
    val paths = segs.zipWithIndex.flatMap { case (vs, b) => vs.map(bucketDir(name, b, _)) }
    if (paths.isEmpty) None else Some(readDirs(spark, paths.toIndexedSeq, schema))
  }

  private def readScalar(name: String, schema: StructType): Option[DataFrame] = {
    val p = scalarDir(name, version)
    if (version >= 0 && Files.exists(Paths.get(p)))
      Some(readDirs(spark, Seq(p), schema))
    else None
  }

  private def unionWith(state: Option[DataFrame], fresh: DataFrame): DataFrame =
    state.map(_.unionByName(fresh)).getOrElse(fresh)

  private def commitManifest(v: Long, w: Long, b: Long,
                             ls: Array[List[Long]], rs: Array[List[Long]]): Unit = {
    def fmt(segs: Array[List[Long]]): String =
      segs.map(l => if (l.isEmpty) "-1" else l.mkString(",")).mkString(" ")
    atomicWrite(manifestPath, s"$v $w $b $buckets\n${fmt(ls)}\n${fmt(rs)}")
  }

  /** Write `df`'s rows for `targets` buckets as one segment dir per bucket
    * at version `next`: ONE partitioned write job into a staging dir, then a
    * per-bucket atomic-ish move into `name/b<i>/v<next>` (a rename on every
    * real filesystem — no second data pass). The repartition on the bucket
    * id lands each bucket in exactly one task → ONE file per bucket dir;
    * without it every shuffle task writes its own sliver of every bucket
    * and later batches pay per-file scan overhead. Returns the buckets that
    * produced a segment (a target whose rows compacted/filtered to zero
    * produces none).
    */
  private def writeSegments(name: String, df: DataFrame, targets: Set[Int],
                            next: Long, tag: String): Set[Int] = {
    if (targets.isEmpty) return Set.empty
    val stage = Paths.get(s"$stateRoot/$name/.stage-$tag-v$next")
    deleteRecursively(stage)
    // partition count capped at the session's shuffle parallelism: appends
    // pass ~all buckets as `targets` whatever the delta touches, and with a
    // large bucket count an uncapped repartition would launch that many
    // mostly-empty write tasks per batch. partitionBy("_b") still yields one
    // dir per touched bucket; staged-set discovery tolerates empty buckets.
    val parts = math.max(1, math.min(targets.size,
      df.sparkSession.sessionState.conf.numShufflePartitions))
    df.withColumn("_b", bucketOf(col("key")))
      .repartition(parts, col("_b"))
      .write.partitionBy("_b").mode(SaveMode.Overwrite).parquet(stage.toString)
    val staged = targets.filter(b => Files.exists(stage.resolve(s"_b=$b")))
    staged.foreach { b =>
      val target = Paths.get(bucketDir(name, b, next))
      deleteRecursively(target) // leftovers from a crashed attempt at `next`
      Files.createDirectories(target.getParent)
      Files.move(stage.resolve(s"_b=$b"), target)
    }
    deleteRecursively(stage)
    staged
  }

  /** Drop state files unreachable from the committed manifest: segment dirs
    * not in their bucket's live list, leftover staging dirs, and scalar
    * (ends/emitted/counts) versions below the current.
    */
  private def prune(ls: Array[List[Long]], rs: Array[List[Long]], keep: Long): Unit = {
    // toLongOption: a stray non-state entry must not kill the query
    def version(n: String): Option[Long] =
      if (n.startsWith("v")) n.drop(1).toLongOption else None
    for ((name, segs) <- Seq("left" -> ls, "right" -> rs)) {
      val base = Paths.get(stateRoot, name)
      deleteWhere(base)(_.startsWith(".stage"))
      segs.zipWithIndex.foreach { case (live, b) =>
        deleteWhere(base.resolve(s"b$b"))(version(_).exists(v => !live.contains(v)))
      }
    }
    for (name <- Seq("ends", "emitted", "counts", "evicted"))
      deleteWhere(Paths.get(stateRoot, name))(version(_).exists(_ < keep))
  }

  /** Process one micro-batch of new events; returns the emitted documents
    * (TxReplay.replay output schema), read back from their durable copy so
    * the result stays valid after state pruning. Call from `foreachBatch` —
    * or directly for deterministic batch-at-a-time testing (batchId then
    * defaults to the next sequential id).
    *
    * PER-BATCH COST SHAPE (round-6 LSM rework + round-7 fold): the only
    * full-buffer work left is the replay's SCAN — which is the micro-batch
    * replay design. Everything else is delta- or dimension-sized:
    *  - the tx dimension costs one Spark job: a `groupBy("tx_id")` collect
    *    of the cached deltas' counts and keys (plus the new ENDs' collect,
    *    jobless when they arrive as a local relation). The END merge, the
    *    counts and key-set merges, eviction, the stall point, the watermark
    *    and END retention run in plain Scala over the driver-held state, so
    *    no exchange merges ENDs or counts and nothing scans `ends/` or
    *    `counts/`;
    *  - state writes are append segments holding only this batch's events,
    *    started as soon as the deltas are cached; the buckets that staged a
    *    segment ARE the dirty set, so no dedicated dirty-scan job exists
    *    (compaction targets come from the segment table alone — see the
    *    class doc);
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
    *    engine wrote them with, so neither a schema-inference job nor (past
    *    32 dirs) a parallel listing job runs; the manifest commit and the
    *    prune are that layer's too ([[SegmentStore.atomicWrite]],
    *    [[SegmentStore.deleteWhere]]);
    *  - appends, compactions, and the counts/evicted/ends writes (one task
    *    each, from local rows) all run concurrently with the replay (appends
    *    and compactions target disjoint buckets).
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

    // No dedicated dirty-scan job (round-7 fold): compaction targets come
    // from the SEGMENT TABLE alone — any bucket at the `compactSegments`
    // threshold compacts this batch, dirty or not (compaction is
    // semantically free anytime, and an at-threshold bucket would pay the
    // identical rewrite on its next dirty batch anyway) — and the appends'
    // dirty set is discovered by the append write itself (writeSegments
    // returns the staged buckets). Appends and compactions target DISJOINT
    // buckets, so both land at one new version; append jobs start
    // IMMEDIATELY — they need only the delta — and run under the
    // eviction/watermark work, compactions (which need the new watermark)
    // join them concurrently with the replay. Emitting keys' buckets are
    // NOT compacted on emission — their settled history is reclaimed at the
    // bucket's next size-triggered compaction (see class doc).
    val vNext = version + 1
    val allBuckets = (0 until buckets).toSet
    val compactLeftT = allBuckets.filter(b => leftSegs(b).size >= compactSegments)
    val compactRightT = allBuckets.filter(b => rightSegs(b).size >= compactSegments)
    val appendLeftF = Future(phased("append-left")(
      writeSegments("left", newLeft.filter(!inBuckets(compactLeftT)),
        allBuckets -- compactLeftT, vNext, "app")))
    val appendRightF = Future(phased("append-right")(
      writeSegments("right", newRight.filter(!inBuckets(compactRightT)),
        allBuckets -- compactRightT, vNext, "app")))

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
      // clock for END-only transactions). A counts entry loaded without a
      // clock reads as first-seen-now — eviction ages restart, never jump.
      // On a duplicate END the held one wins. The same job collects each
      // tx's keys, merged into the held key sets the probes come from.
      val deltaEvents =
        newLeft.select(col("tx_id"), col("key"), lit(1L).as("n_left"), lit(0L).as("n_right"))
          .unionByName(newRight.select(col("tx_id"), col("key"),
            lit(0L).as("n_left"), lit(1L).as("n_right")))
      val deltaCounts = phased("delta-counts")(deltaEvents
        .groupBy("tx_id").agg(sum("n_left"), sum("n_right"), collect_set("key"))
        .collect().filterNot(_.isNullAt(0)))
      val newEndRows = newEnds.select(endsSchema.fieldNames.toIndexedSeq.map(col): _*)
        .collect().filterNot(_.isNullAt(0))
      val ends = newEndRows.foldLeft(prev.ends) { (m, r) =>
        if (m.contains(r.getLong(0))) m else m.updated(r.getLong(0), endOf(r))
      }
      val sightings = deltaCounts.iterator
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ++
        newEndRows.iterator.map(r => (r.getLong(0), 0L, 0L))
      val clocked = prev.counts.map { case (id, c) =>
        id -> (if (c.firstB == Unsighted) c.copy(firstB = thisBatch) else c)
      }
      val counts = sightings.foldLeft(clocked) { case (m, (id, l, r)) =>
        m.updated(id, m.get(id).fold(Counts(l, r, thisBatch))(c =>
          Counts(c.nLeft + l, c.nRight + r, math.min(c.firstB, thisBatch))))
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
      val countsF = Future(phased("keep-counts")(writeScalar("counts",
        keptCounts.map { case (id, c) => Row(id, c.nLeft, c.nRight, c.firstB) },
        countsSchema, vNext)))
      // the evicted list rides the same versioned-scalar scheme; written
      // whenever the feature is on or a list already exists
      val evictedF =
        if (evictAfterBatches.isEmpty && evicted.isEmpty) None
        else Some(Future(phased("keep-evicted")(
          writeScalar("evicted", evicted.map(Row(_)), txIdSchema, vNext))))

      // compaction (cleanupState) for the size-triggered buckets only.
      // Appends and compactions are DISJOINT and unchained: the append jobs
      // exclude compacting buckets (`newLeft.filter(!inBuckets(...))`), and
      // a compacting bucket's input is its old segments plus its share of
      // the CACHED delta read directly (`fresh.filter(inBuckets(compact))`)
      // — no dependency on the append write, both run concurrently with
      // the replay. Enrich to learn each event's commit LSN and whether its
      // tx is at or below the new watermark; unfinished events (no END yet)
      // stay raw in the buffer. The `past` flag is decided here on the
      // driver and travels as data: a watermark literal in the filter would
      // make every compacting trigger generate and compile new code.
      val endsKeyed = localFrame(ends2.map { case (id, e) =>
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
      def compactInput(name: String, segs: Array[List[Long]], compact: Set[Int],
                       fresh: DataFrame): DataFrame = {
        val pruned = segs.zipWithIndex.map { case (vs, b) =>
          if (compact.contains(b)) vs else Nil
        }
        // evicted txs' events leave the buffer here, at their bucket's
        // next compaction — never applied, reclaimed without a dedicated pass
        exceptEvicted(unionWith(readSegs(name, pruned, fresh.schema),
          fresh.filter(inBuckets(compact))))
      }
      val compactLeftF = Future(phased("compact-left")(
        writeSegments("left",
          split(compactInput("left", leftSegs, compactLeftT, newLeft), Seq("key")),
          compactLeftT, vNext, "cmp")))
      val compactRightF = Future(phased("compact-right")(
        writeSegments("right",
          split(compactInput("right", rightSegs, compactRightT, newRight),
            Seq("key", "line_id")),
          compactRightT, vNext, "cmp")))

      // END retention. Append-only batch: every previously retained END is
      // still referenced (no event left the buffer), so the END table
      // carries over as-is — zero scans, and its write starts now.
      // Compacting batch: retain settled ENDs referenced by ANY kept event —
      // the tx_id column of the NEW segment set (the just-written segments
      // plus untouched buckets' live files, a file-pruned single-column
      // scan) — plus all ENDs not yet settled. Deferred buckets need their
      // settled ENDs to learn commit LSNs at their eventual compaction;
      // dropping one would reclassify its events as unfinished and stall
      // the watermark.
      def writeEnds(kept: Map[Long, End]): Map[Long, End] = {
        phased("keep-ends")(writeScalar("ends",
          kept.map { case (id, e) => endRow(id, e) }, endsSchema, vNext))
        kept
      }
      val appendOnly = compactLeftT.isEmpty && compactRightT.isEmpty
      val carriedEndsF = if (appendOnly) Some(Future(writeEnds(ends2))) else None

      // one doc per (key, tx) not yet emitted in an earlier batch; durability
      // order: emitted docs + bucket state + ends first, manifest (atomic
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
      phased("replay+emit")(
        emitted.write.mode(SaveMode.Overwrite).parquet(scalarDir("emitted", vNext)))

      val appLeft = Await.result(appendLeftF, Duration.Inf)
      val appRight = Await.result(appendRightF, Duration.Inf)
      val cmpLeft = Await.result(compactLeftF, Duration.Inf)
      val cmpRight = Await.result(compactRightF, Duration.Inf)
      Await.result(countsF, Duration.Inf)
      evictedF.foreach(Await.result(_, Duration.Inf))
      def updated(segs: Array[List[Long]], appended: Set[Int], targets: Set[Int],
                  compacted: Set[Int]): Array[List[Long]] =
        segs.zipWithIndex.map { case (vs, b) =>
          if (targets.contains(b)) { if (compacted.contains(b)) List(vNext) else Nil }
          else if (appended.contains(b)) vs :+ vNext
          else vs
        }
      val newLeftSegs = updated(leftSegs, appLeft, compactLeftT, cmpLeft)
      val newRightSegs = updated(rightSegs, appRight, compactRightT, cmpRight)

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
      readDirs(spark, Seq(scalarDir("emitted", vNext)), replayPlan.schema)
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

  /** Number of state buckets in effect (manifest's on resume). */
  def bucketCount: Int = buckets

  /** Live segment versions per bucket for `side` ("left"/"right") — test
    * visibility into the LSM layout (oldest first; empty = no data).
    */
  def liveSegments(side: String): Map[Int, Seq[Long]] = {
    val segs = if (side == "left") leftSegs else rightSegs
    segs.zipWithIndex.map { case (vs, b) => b -> (vs: Seq[Long]) }.toMap
  }

  /** The committed output of the newest processed batch — what a restarted
    * query must redeliver when Structured Streaming re-runs a batch the
    * engine already committed but the sink did not.
    */
  def lastEmitted: DataFrame = {
    require(version >= 0, "no batch committed yet")
    // the one inferring read left: it runs once per restart, and the emitted
    // schema follows the input row types of batches this instance has not seen
    spark.read.parquet(scalarDir("emitted", version))
  }
}

object TxReplayStream {

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

  /** `firstB` of a counts entry persisted without the clock; the next batch
    * reads it as its own id.
    */
  private val Unsighted = Long.MaxValue

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
  /** @param numBuckets state buckets (a resumed manifest's layout wins)
    * @param compactSegments per-bucket segment count that triggers
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
             numBuckets: Int = 16, compactSegments: Int = 4,
             evictAfterBatches: Option[Int] = None)
            (onEmit: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val engine = new TxReplayStream(unioned.sparkSession, stateRoot,
      numBuckets, compactSegments, evictAfterBatches)
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
