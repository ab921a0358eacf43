package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** O9 design (b): the STREAMING-NATIVE transactionally consistent
  * join+aggregation — per-key state-store buffers and per-event-shaped
  * incremental work, the operator shape of the reference's
  * `TxAwareTwoInputNonBroadcastJoinProcessOperator` — built as a linear
  * chain of three `transformWithState` operators (Spark 4 arbitrary stateful
  * processing over the RocksDB state store provider, which
  * `transformWithState` requires).
  *
  * Contrast with [[TxReplayStream]] (design (a), micro-batch replay over
  * engine-managed parquet state): here NO full-buffer work happens per
  * batch at all — every stage's cost is proportional to its delta, state
  * lives in Spark's own checkpointed state store, and a document is
  * emitted the moment its transaction becomes reachable. The price is the
  * sequencer stage (below) and the state-store encoder boundary on every
  * row; the replay design's price is re-planning and re-scanning the
  * buffer each batch. Both produce the same emission sequence
  * (TxReplayNativeSpec pins equivalence).
  *
  * The global-watermark obstacle (see the [[TxReplayStream]] scaladoc: a
  * keyed processor sees one key's slice of the world, but the contiguous
  * commit-LSN watermark is a global property) is solved the way the
  * reference itself solves it — an explicitly PARALLELISM-1 sequencing
  * point (`WatermarkInjector` runs at parallelism 1; poc.md:264-266) that
  * sees only TRANSACTION METADATA, never event payloads:
  *
  *  1. [[TxReplayNative.Completeness]] — keyed by tx_id. Counts arriving
  *     left/right events per transaction against the END event's announced
  *     counts (`join/WatermarkInjector.java:74-144`), remembers the
  *     DISTINCT KEYS the transaction touched (ListState), and signals
  *     "announced" / "complete" downstream — the complete signal carries
  *     the key set (every sighting has arrived by definition of
  *     completeness, so the set is final).
  *  2. [[TxReplayNative.Sequencer]] — keyed by a constant: the reference's
  *     parallelism-1 watermark injector. Holds the pending (announced but
  *     not yet emittable) transaction set and releases transactions in
  *     contiguous commit-LSN order — one incomplete transaction stalls
  *     everything after it (`WatermarkInjector.java:127-147`). Sees two
  *     metadata records per transaction, never data. A release fans out
  *     to per-key flush markers with a NARROW flatMap over its key set —
  *     the analogue of Flink broadcasting the LSN watermark to every
  *     parallel subtask, with no stateful stage or event re-shuffle.
  *  3. [[TxReplayNative.DocAssembler]] — keyed by the join key: the
  *     reference's `TxAware…JoinProcessOperator` itself. Buffers raw
  *     events in ListState (`:100-160`), and on each flush marker applies
  *     the flushed transaction's events in (commit_lsn, lsn) order to
  *     per-key running state (latest left ValueState, latest right per
  *     line MapState — `cleanupState`'s retained set, `:357-430`), then
  *     emits exactly one document per (key, tx)
  *     (`TxAwareAggregationFunction.java:33-100`).
  *
  * Scale shape: stages 1 and 3 are fully key-parallel; stage 2 is
  * parallelism-1 BY THE PROBLEM'S NATURE (the reference's is too) but
  * carries two metadata records per transaction, not events. Every event
  * crosses exactly TWO keyed shuffles — by tx_id for counting, by join
  * key for assembly — the information-theoretic floor for this operator
  * (an earlier 4-stage form shuffled events a third time into a dedicated
  * key-fanout stage; folding key memory into the completeness counter
  * removed it). The one tradeoff of the fold: a transaction's whole key
  * set rides its complete signal, and a stalled-but-complete
  * transaction's key set waits inside the sequencer's single-partition
  * state instead of distributed per-tx state — per-tx-bounded metadata
  * (the reference's injector queues per-tx buffers the same way). All
  * state is per-key/per-tx in RocksDB, compacted by the store; there is
  * no full-state scan anywhere. The transport assumption is inherited from
  * the reference: tx END events arrive in commit-LSN order (Debezium's
  * transaction topic is a single partition).
  */
// ---- metadata wire types (stages 1-3 never see event payloads); top-level
// so Spark's encoder codegen can reach their constructors ----

/** One metadata record per input row: side 0=left event, 1=right event,
  * 2=tx END (carrying announced counts + commit LSN).
  */
case class TxMeta(txId: Long, side: Int, key: Long, commitLsn: Long,
                  expLeft: Long, expRight: Long)

/** Completeness signal: announced (complete=false, on END arrival) or
  * complete (counts match the announcement — `keys` then carries the
  * transaction's final distinct touched-key set; empty when announced).
  * `abandoned` marks a stall-timeout eviction: treated as complete for
  * watermark contiguity, but downstream PURGES instead of applying
  * (commitLsn is Long.MinValue when the tx was never even announced).
  */
case class TxSignal(txId: Long, commitLsn: Long, complete: Boolean,
                    keys: Seq[Long], abandoned: Boolean = false)

/** Stage-1 per-tx running state (`timerTs` = the registered stall timer's
  * expiry, -1 when no timeout is configured — kept so settling deletes the
  * timer instead of letting every settled tx fire a no-op later).
  */
case class TxProgress(nLeft: Long, nRight: Long, expLeft: Long,
                      expRight: Long, commitLsn: Long,
                      announced: Boolean, done: Boolean,
                      timerTs: Long = -1L)

/** A transaction released by the sequencer (emittable NOW — or, when
  * `purge` is set, abandoned: its buffered events must be discarded, never
  * applied), with the keys to flush.
  */
case class Release(txId: Long, commitLsn: Long, keys: Seq[Long],
                   purge: Boolean = false)

/** Per-key flush instruction: apply+emit tx `txId` as of `commitLsn`
  * (`purge` = discard the tx's buffered events instead).
  */
case class FlushMarker(key: Long, txId: Long, commitLsn: Long,
                       purge: Boolean = false)

object TxReplayNative {

  /** Stage 1: per-transaction completeness counter + touched-key memory
    * (`join/WatermarkInjector.java:74-144` keeps the same running counts
    * per tx, updated per event — O(delta), never a rescan). The key set
    * rides the complete signal so releases can fan out to flush markers
    * without a second event shuffle.
    *
    * `stallTimeoutMs` (opt-in; requires TimeMode.ProcessingTime): a
    * processing-time timer registered at a transaction's first sighting.
    * If the tx is still incomplete at expiry it is declared ABANDONED —
    * an abandoned signal (with the keys seen so far) lets the sequencer
    * advance the watermark past it and downstream purge its partial
    * events, which are never applied. The tombstoned progress row (`done`)
    * absorbs any later stragglers of the evicted tx.
    */
  class Completeness(stallTimeoutMs: Option[Long] = None)
      extends StatefulProcessor[Long, TxMeta, TxSignal] {
    @transient private var st: ValueState[TxProgress] = _
    @transient private var keys: ListState[Long] = _
    override def init(o: OutputMode, t: TimeMode): Unit = {
      st = getHandle.getValueState[TxProgress]("progress",
        Encoders.product[TxProgress], TTLConfig.NONE)
      keys = getHandle.getListState[Long]("keys", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(txId: Long, rows: Iterator[TxMeta],
                                 tv: TimerValues): Iterator[TxSignal] = {
      val existing = Option(st.get())
      var p = existing.getOrElse(
        TxProgress(0, 0, -1, -1, Long.MinValue, announced = false, done = false))
      if (p.done) return Iterator.empty // late duplicates of a settled tx
      if (existing.isEmpty) stallTimeoutMs.foreach { t =>
        val ts = tv.getCurrentProcessingTimeInMs() + t
        getHandle.registerTimer(ts)
        p = p.copy(timerTs = ts)
      }
      val out = Vector.newBuilder[TxSignal]
      val fresh = Vector.newBuilder[Long]
      rows.foreach { m =>
        m.side match {
          case 0 => p = p.copy(nLeft = p.nLeft + 1); fresh += m.key
          case 1 => p = p.copy(nRight = p.nRight + 1); fresh += m.key
          case _ =>
            p = p.copy(expLeft = m.expLeft, expRight = m.expRight,
              commitLsn = m.commitLsn, announced = true)
            out += TxSignal(txId, m.commitLsn, complete = false, keys = Nil)
        }
      }
      if (p.announced && p.nLeft == p.expLeft && p.nRight == p.expRight) {
        // completeness == every sighting has arrived, so the set is final
        val all = (keys.get().toVector ++ fresh.result()).distinct
        out += TxSignal(txId, p.commitLsn, complete = true, keys = all)
        // settling deletes the stall timer — otherwise every settled tx
        // fires a no-op timer one timeout later (a timer storm at scale)
        if (p.timerTs >= 0) getHandle.deleteTimer(p.timerTs)
        st.clear() // settled: the transport contract says no more events
        keys.clear()
      } else {
        val f = fresh.result()
        if (f.nonEmpty) keys.appendList(f.distinct.toArray)
        st.update(p)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(txId: Long, tv: TimerValues,
                                    info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[TxSignal] = {
      val p = st.get()
      if (p == null || p.done) return Iterator.empty // settled before expiry
      // abandoned: commitLsn is MinValue when the END never arrived — the
      // sequencer purge-releases those immediately (nothing to order)
      val all = keys.get().toVector.distinct
      st.update(p.copy(done = true)) // tombstone absorbs late stragglers
      keys.clear()
      Iterator.single(
        TxSignal(txId, p.commitLsn, complete = true, keys = all, abandoned = true))
    }
  }

  /** Stage 2: the parallelism-1 contiguity sequencer — the reference's
    * `WatermarkInjector.java:127-147` stall rule: a transaction is released
    * only when every announced transaction with a smaller commit LSN is
    * complete. Holds only the pending (announced, unreleased) metadata set.
    */
  class Sequencer extends StatefulProcessor[Long, TxSignal, Release] {
    @transient private var pending: MapState[Long, TxSignal] = _
    override def init(o: OutputMode, t: TimeMode): Unit =
      pending = getHandle.getMapState[Long, TxSignal]("pending",
        Encoders.scalaLong, Encoders.product[TxSignal], TTLConfig.NONE)

    override def handleInputRows(k: Long, rows: Iterator[TxSignal],
                                 tv: TimerValues): Iterator[Release] = {
      // never-announced abandonments carry no commit LSN: nothing to
      // order, purge-release immediately without entering the pending set
      val unannounced = Vector.newBuilder[Release]
      rows.foreach { s =>
        if (s.abandoned && s.commitLsn == Long.MinValue)
          unannounced += Release(s.txId, s.commitLsn, s.keys, purge = true)
        else {
          // complete=true wins regardless of within-batch arrival order
          // (the union's iterator may hand us "complete" before
          // "announced"); an abandoned signal IS complete for ordering
          val prev = pending.getValue(s.txId)
          pending.updateValue(s.txId, if (prev != null && prev.complete) prev else s)
        }
      }
      // drain the contiguous complete prefix in commit order
      val all = pending.iterator().map(_._2).toVector.sortBy(_.commitLsn)
      val release = all.takeWhile(_.complete)
      release.foreach(s => pending.removeKey(s.txId))
      (unannounced.result() ++
        release.map(s => Release(s.txId, s.commitLsn, s.keys, purge = s.abandoned)))
        .iterator
    }
  }

  /** Stage 3: the per-key join/aggregation operator itself. Input rows use
    * the unified schema built by [[docs]] (kind 0=left, 1=right, 2=flush
    * marker); state is the reference operator's exactly:
    * buffered-not-yet-flushed events (ListState — `:100-160`), latest
    * applied left (ValueState), latest applied right per line id
    * (MapState, deletes retained — `cleanupState`, `:357-430`).
    */
  class DocAssembler(unifiedSchema: StructType, leftRowType: DataType,
                     rightRowType: DataType, outSchema: StructType)
    extends StatefulProcessor[Long, Row, Row] {

    private val hdrSchema = StructType(Seq(
      StructField("commit_lsn", LongType), StructField("lsn", LongType),
      StructField("op", StringType), StructField("lrow", leftRowType)))
    private val lineSchema = StructType(Seq(
      StructField("lsn", LongType), StructField("op", StringType),
      StructField("rrow", rightRowType)))

    @transient private var buf: ListState[Row] = _
    @transient private var hdr: ValueState[Row] = _
    @transient private var lines: MapState[Long, Row] = _

    override def init(o: OutputMode, t: TimeMode): Unit = {
      val h = getHandle
      buf = h.getListState[Row]("buf", Encoders.row(unifiedSchema), TTLConfig.NONE)
      hdr = h.getValueState[Row]("hdr", Encoders.row(hdrSchema), TTLConfig.NONE)
      lines = h.getMapState[Long, Row]("lines",
        Encoders.scalaLong, Encoders.row(lineSchema), TTLConfig.NONE)
    }

    // unified schema field order: kind, key, line_id, op, lsn, tx_id,
    // commit_lsn, lrow, rrow, purge
    override def handleInputRows(key: Long, rows: Iterator[Row],
                                 tv: TimerValues): Iterator[Row] = {
      val all = rows.toVector
      val markers = all.filter(_.getInt(0) == 2)
        .sortBy(r => (r.getLong(6), r.getLong(5))) // commit order; txId tiebreak is cosmetic
      val events = all.filter(_.getInt(0) < 2)
      if (markers.isEmpty) {
        if (events.nonEmpty) buf.appendList(events.toArray)
        return Iterator.empty
      }
      val pending = buf.get().toVector ++ events
      val byTx = pending.groupBy(_.getLong(5))
      val flushedTx = scala.collection.mutable.Set.empty[Long]
      var curHdr = Option(hdr.get())
      val out = Vector.newBuilder[Row]

      markers.foreach { m =>
        val txId = m.getLong(5)
        val probeLsn = m.getLong(6)
        flushedTx += txId
        if (m.getBoolean(9)) {
          // abandoned tx: its buffered events leave the buffer via
          // flushedTx but are NEVER applied — emitted documents only ever
          // reflect fully-delivered transactions
        } else {
        // apply this tx's events for this key in lsn order — the in-tx
        // scan order of the reference's buffer walk (`:221-266`)
        byTx.getOrElse(txId, Vector.empty).sortBy(_.getLong(4)).foreach { e =>
          if (e.getInt(0) == 0)
            curHdr = Some(new org.apache.spark.sql.catalyst.expressions.GenericRow(
              Array[Any](probeLsn, e.getLong(4), e.getString(3), e.getStruct(7))))
          else
            lines.updateValue(e.getLong(2),
              new org.apache.spark.sql.catalyst.expressions.GenericRow(
                Array[Any](e.getLong(4), e.getString(3), e.getStruct(8))))
        }
        // emit: INNER semantics (no left yet → nothing); a left-changed-only
        // probe with zero pairs produces no document (TxReplay's
        // `left_lsn < probe_lsn || n_pairs > 0` gate)
        curHdr.foreach { h =>
          val pairs = lines.iterator().toVector
          val nPairs = pairs.size
          if (h.getLong(0) < probeLsn || nPairs > 0) {
            val arr: Any =
              if (nPairs == 0) null
              else pairs.collect { case (id, v) if v.getString(1) != "d" =>
                new org.apache.spark.sql.catalyst.expressions.GenericRow(
                  Array[Any](id, v.get(2)))
              }.sortBy(_.getLong(0)).toArray.toSeq
            out += new org.apache.spark.sql.catalyst.expressions.GenericRow(
              Array[Any](key, probeLsn, h.get(3), arr, h.getString(2) == "d"))
          }
        }
        }
      }

      curHdr.foreach(hdr.update)
      val remaining = pending.filterNot(e => flushedTx.contains(e.getLong(5)))
      buf.clear()
      if (remaining.nonEmpty) buf.appendList(remaining.toArray)
      out.result().iterator
    }
  }

  /** Wire the three stages over streaming left/right/END frames with the
    * [[graft.tx.TxReplay]] column contracts; returns the streaming document
    * frame (same output schema as `TxReplay.replay`) for the caller to
    * sink. All three stateful operators require the RocksDB state store
    * provider (`spark.sql.streaming.stateStore.providerClass`).
    *
    * `stallTimeoutMs` (default None = stall forever, the reference's strict
    * behavior): evict transactions still incomplete after the timeout so
    * one lost producer cannot block the watermark indefinitely — their
    * partial events are purged, never applied. Two operational notes when
    * set: (1) the completeness stage runs in TimeMode.ProcessingTime, and
    * Spark schedules a micro-batch every trigger to check timers — SET A
    * TRIGGER INTERVAL, and don't wait on `processAllAvailable()` (a
    * processing-time-timer query always "requires another batch", so it
    * never quiesces; poll the sink instead). (2) eviction is a
    * consistency trade made explicit: the evicted transaction is LOST, by
    * design, and later transactions emit as if it never happened.
    */
  def docs(left: DataFrame, right: DataFrame, ends: DataFrame,
           stallTimeoutMs: Option[Long] = None): DataFrame = {
    require(stallTimeoutMs.forall(_ > 0), "stallTimeoutMs must be positive")
    val spark = left.sparkSession
    import spark.implicits._

    val metaL = left.select(col("tx_id").as("txId"), lit(0).as("side"),
      col("key"), lit(Long.MinValue).as("commitLsn"),
      lit(-1L).as("expLeft"), lit(-1L).as("expRight")).as[TxMeta]
    val metaR = right.select(col("tx_id").as("txId"), lit(1).as("side"),
      col("key"), lit(Long.MinValue).as("commitLsn"),
      lit(-1L).as("expLeft"), lit(-1L).as("expRight")).as[TxMeta]
    val metaE = ends.select(col("tx_id").as("txId"), lit(2).as("side"),
      lit(-1L).as("key"), col("commit_lsn").as("commitLsn"),
      col("expected_left").as("expLeft"), col("expected_right").as("expRight")).as[TxMeta]

    val signals = metaL.union(metaR).union(metaE)
      .groupByKey(_.txId)
      .transformWithState(new Completeness(stallTimeoutMs),
        if (stallTimeoutMs.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())

    val released = signals.groupByKey(_ => 0L)
      .transformWithState(new Sequencer, TimeMode.None(), OutputMode.Append())

    // release → per-key flush markers: a narrow flatMap over the key set
    // the completeness stage collected — no third shuffle
    val markers = released.flatMap(r =>
      r.keys.map(k => FlushMarker(k, r.txId, r.commitLsn, r.purge)))

    val lt = left.schema("row").dataType
    val rt = right.schema("row").dataType
    val dLeft = left.select(lit(0).as("kind"), col("key"),
      lit(null).cast(LongType).as("line_id"), col("op"), col("lsn"),
      col("tx_id"), lit(null).cast(LongType).as("commit_lsn"),
      col("row").as("lrow"), lit(null).cast(rt).as("rrow"),
      lit(false).as("purge"))
    val dRight = right.select(lit(1).as("kind"), col("key"),
      col("line_id"), col("op"), col("lsn"), col("tx_id"),
      lit(null).cast(LongType).as("commit_lsn"),
      lit(null).cast(lt).as("lrow"), col("row").as("rrow"),
      lit(false).as("purge"))
    val dMark = markers.toDF().select(lit(2).as("kind"), col("key"),
      lit(null).cast(LongType).as("line_id"), lit(null).cast(StringType).as("op"),
      lit(Long.MaxValue).as("lsn"), col("txId").as("tx_id"),
      col("commitLsn").as("commit_lsn"),
      lit(null).cast(lt).as("lrow"), lit(null).cast(rt).as("rrow"),
      col("purge"))
    val unified = dLeft.unionByName(dRight).unionByName(dMark)

    val outSchema = StructType(Seq(
      StructField("key", LongType),
      StructField("commit_lsn", LongType),
      StructField("row", lt),
      StructField("lines", ArrayType(StructType(Seq(
        StructField("line_id", LongType), StructField("row", rt))))),
      StructField("deleted", BooleanType)))

    implicit val outEnc: Encoder[Row] = Encoders.row(outSchema)
    unified.groupByKey((r: Row) => r.getLong(1))(Encoders.scalaLong)
      .transformWithState(
        new DocAssembler(unified.schema, lt, rt, outSchema),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }
}
