package graft.tx

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** J1/A1/O3/O4/O9/O10 — the transactionally consistent CDC join+aggregation
  * engine, re-expressed as a bounded (per-micro-batch) LSN-ordered replay in
  * declarative DataFrame ops.
  *
  * Reference semantics being reproduced (all paths under
  * `/root/reference/transactional-cdc-processing/src/main/java/dev/morling/demos/txbuffering/`):
  *
  *  - commit-LSN enrichment: data events buffer until their transaction's END
  *    event arrives, then carry the END event's LSN as `commit_lsn`
  *    (`join/CommitLsnFixer.java:37-152`). In bounded replay this is a join
  *    against the (small) tx dimension; events whose tx never ended stay
  *    buffered — i.e. are excluded from this batch's output.
  *  - tx completeness → watermark: a tx is complete when the received event
  *    count per table equals the count announced by the tx END event
  *    (`join/WatermarkInjector.java:74-144`). The watermark advances only
  *    through CONTIGUOUS complete txs in commit-LSN order — one incomplete tx
  *    stalls everything after it (`WatermarkInjector.java:127-147`).
  *  - per-LSN flush: for each watermark L and key: if the left (order) changed
  *    at L, pair it with the latest right per line-id as-of L
  *    (`join/TxAwareTwoInputNonBroadcastJoinProcessOperator.java:221-266,308-331`);
  *    if only the right changed, pair the rights at L with the latest left
  *    as-of L (`:287-306,333-350`). INNER semantics: no left as-of → nothing.
  *  - aggregation/emission: exactly ONE document per (key, tx): header from
  *    the latest left, lines = latest right per line-id with deletes removed,
  *    `deleted=true` when the left's latest op is a delete
  *    (`join/TxAwareAggregationFunction.java:33-100`,
  *    `model/purchaseorder/OrderWithLines.java:47-101`). A left-changed key
  *    emits only if at least one right event exists as-of L (the reference
  *    emits nothing when the pair set is empty).
  *  - tombstones: deleted docs encode as null values keyed by id
  *    (`join/OrderWithLinesSerializationSchema.java:41-75`).
  *
  * Scale design (100 TB): the tx dimension (one row per transaction) is tiny
  * relative to events — completeness and the stall point are plain aggregates
  * (no global sort, no single-partition window). Event-side work is hash
  * shuffles on the join key only; the as-of resolution joins probes to events
  * per key, costing O(versions × probes) per key within the batch — bounded
  * in streaming use because each micro-batch replays only its own events
  * against compacted state (the reference's `cleanupState` compaction is our
  * micro-batch boundary). Keys are independent → parallel across executors;
  * the reference runs the whole pipeline at parallelism 1 (poc.md:264-266),
  * so this is strictly more parallel with the same per-key guarantees.
  *
  * Input contracts (column names):
  *  - left  (parent stream):  key LONG, op STRING, lsn LONG, tx_id LONG, row STRUCT
  *  - right (child stream):   key LONG, line_id LONG, op STRING, lsn LONG, tx_id LONG, row STRUCT
  *  - txEnds (END events):    tx_id LONG, commit_lsn LONG, expected_left LONG, expected_right LONG
  */
object TxReplay {

  /** O4: enrich change events with the commit LSN announced by their tx END
    * event (`CommitLsnFixer.java:63-93`). Events of unfinished transactions
    * (no END yet) are withheld, exactly like the fixer's buffer. The tx
    * dimension is broadcast — it is orders of magnitude smaller than events.
    */
  def fixCommitLsn(events: DataFrame, txEnds: DataFrame): DataFrame =
    events.join(broadcast(txEnds.select("tx_id", "commit_lsn")), Seq("tx_id"), "inner")

  /** O3/A4: per-tx completeness — actual event counts per stream vs the
    * counts announced in the END event (`WatermarkInjector.java:74-144`,
    * `TransactionEvent.countFor`). Returns the tx dimension with
    * `n_left`, `n_right`, `complete`, and `reachable` (complete AND below the
    * first incomplete tx — the contiguity rule that makes one stalled tx stop
    * the watermark). All plain aggregates: no global ordering needed, because
    * "contiguous complete prefix" ≡ commit_lsn < min(incomplete commit_lsn).
    */
  def txCompleteness(left: DataFrame, right: DataFrame, txEnds: DataFrame): DataFrame = {
    val counts = left.groupBy("tx_id").agg(count(lit(1)).as("n_left"))
      .join(right.groupBy("tx_id").agg(count(lit(1)).as("n_right")), Seq("tx_id"), "full")
      .na.fill(0L, Seq("n_left", "n_right"))
    txCompletenessFromCounts(counts, txEnds)
  }

  /** [[txCompleteness]] when the caller already holds the per-tx event
    * counts `(tx_id, n_left, n_right)`: [[graft.TxQueries]] derives them
    * once and shares them across its replay queries, so completeness costs
    * a join of two tx-dimension tables instead of another aggregation over
    * the event streams.
    */
  def txCompletenessFromCounts(counts: DataFrame, txEnds: DataFrame): DataFrame = {
    val flagged = txEnds
      .join(counts, Seq("tx_id"), "left")
      .withColumn("n_left", coalesce(col("n_left"), lit(0L)))
      .withColumn("n_right", coalesce(col("n_right"), lit(0L)))
      .withColumn("complete",
        col("n_left") === col("expected_left") && col("n_right") === col("expected_right"))
    // stall point: min commit_lsn among incomplete txs
    val stall = flagged.agg(
      coalesce(min(when(!col("complete"), col("commit_lsn"))), lit(Long.MaxValue))
        .as("stall_lsn"))
    flagged.crossJoin(broadcast(stall))
      .withColumn("reachable", col("complete") && col("commit_lsn") < col("stall_lsn"))
      .drop("stall_lsn")
  }

  /** The full bounded replay: left/right change streams + tx END events →
    * the emission sequence — one row per (key, commit_lsn) where the key
    * changed in a reachable tx. Output columns:
    * key, commit_lsn, row (header struct), lines ARRAY<STRUCT(line_id, row)>
    * sorted by line_id, deleted BOOLEAN.
    */
  /** Shared prelude of both replay forms: commit-LSN enrichment, reachable
    * txs, and the emission probes — every (key, L) where the key changed in
    * tx L (flushBuffers iterates watermarks × keys; only keys with an event
    * at L produce pairs — TxAware…Operator.java:221-266). A caller that
    * already holds the probes passes them as `known`, and then neither the
    * reachable set nor the probe scans below are built. Derived probes are
    * deliberately NOT cached or pre-partitioned although both consumers
    * read them: measured A/B at sf0.1 (SCALING.md, "Tx replay design
    * measurements"), caching costs ~+1s — the columnar cache write/read exceeds the
    * recomputation (a union of broadcast-enriched scans + map-side-deduped
    * distinct), and the InMemoryRelation blocks AQE's runtime replanning of
    * the joins above it. A pre-repartition on key is a wash for the same
    * reason.
    */
  private def staged(left: DataFrame, right: DataFrame, txEnds: DataFrame,
                     reachable: Option[DataFrame],
                     known: Option[DataFrame]): (DataFrame, DataFrame, DataFrame) = {
    // cache the tx DIMENSION (one row per transaction — always small): it is
    // referenced once per enrichment/probe/as-of branch below, and when the
    // caller derives it from aggregations over the event streams, each
    // reference would otherwise re-run those aggregations. A dimension
    // that is already cached, or already local (TxReplayStream's
    // driver-held END table), is used as passed.
    val ends =
      if (txEnds.isLocal || txEnds.storageLevel != StorageLevel.NONE) txEnds else txEnds.cache()
    val l = fixCommitLsn(left, ends)
    val r = fixCommitLsn(right, ends)

    val probes = known.getOrElse {
      // A caller that already computed the reachable-tx set (TxQueries'
      // pre-computed dimension) passes it in — (tx_id, commit_lsn), ideally
      // cached — instead of paying the completeness aggregation again; that
      // caller owns the passed frame's cache lifecycle. Derived here it is
      // NOT cached: the returned frame is lazy, so nothing could release the
      // cache, and its two consumers below are the same broadcast subtree,
      // which exchange reuse computes once.
      val reachableTx = reachable.getOrElse(
        txCompleteness(left, right, ends)
          .filter(col("reachable")).select("tx_id", "commit_lsn"))

      // Probe sources: data events restricted to reachable txs (broadcast
      // tx dimension). NOTE: only the PROBES are restricted — as-of
      // resolution scans ALL ENDed events, because settled txs are valid
      // history for later documents.
      val lr = l.join(broadcast(reachableTx.select("tx_id")), Seq("tx_id"))
      val rr = r.join(broadcast(reachableTx.select("tx_id")), Seq("tx_id"))
      lr.select(col("key"), col("commit_lsn"))
        .union(rr.select(col("key"), col("commit_lsn")))
        .distinct()
        .withColumnRenamed("commit_lsn", "probe_lsn")
    }
    (l, r, probes)
  }

  /** @param probes the emission probes `(key, probe_lsn)`, when the caller
    *   already holds them: exactly the distinct (key, commit LSN) pairs of
    *   every event of a reachable tx. Given probes replace the derivation
    *   (no reachable set, no probe scan of `left`/`right`, so `reachable`
    *   is not consulted) and are broadcast into both as-of
    *   joins. In micro-batch use they are delta-sized — one row per (key,
    *   commit_lsn) emitting THIS batch, built on the driver by
    *   [[graft.streaming.TxReplayStream]] from its held per-tx key sets —
    *   while `left`/`right` are the full buffered state, so the buffer is
    *   only SCANNED, once per side, never shuffled, and every exchange in
    *   the replay plan is delta-sized. Default None derives them here and
    *   does not broadcast: a bounded one-shot replay's probe set is
    *   output-sized (can be the whole table).
    */
  def replay(left: DataFrame, right: DataFrame, txEnds: DataFrame,
             reachable: Option[DataFrame] = None,
             probes: Option[DataFrame] = None): DataFrame = {
    val (l, r, staged0) = staged(left, right, txEnds, reachable, probes)
    val probeSet = if (probes.isDefined) broadcast(staged0) else staged0

    // Header as-of: latest left per key with commit_lsn <= L, ordered by
    // (commit_lsn, lsn) — the in-tx tiebreak matches the buffer scan order
    // being "latest wins" (getLatestLeftByCommitLsn uses >=).
    val header = probeSet.join(l, Seq("key"))
      .where(col("commit_lsn") <= col("probe_lsn"))
      .groupBy("key", "probe_lsn")
      .agg(max_by(
        struct(col("commit_lsn"), col("op"), col("row")),
        struct(col("commit_lsn"), col("lsn"))).as("h"))
      .select(col("key"), col("probe_lsn"),
        col("h.commit_lsn").as("left_lsn"), col("h.op").as("left_op"),
        col("h.row").as("row"))

    // Lines as-of: latest right per (key, line_id) with commit_lsn <= L;
    // deletes participate in the pair count (they are still "latest per id",
    // getLatestRightPerIdByCommitLsn includes op='d') but are dropped from
    // the doc (OrderWithLines.updateFromDataChangeEventPair removes them).
    val latestLines = probeSet.join(r, Seq("key"))
      .where(col("commit_lsn") <= col("probe_lsn"))
      .groupBy("key", "probe_lsn", "line_id")
      .agg(max_by(
        struct(col("op"), col("row")),
        struct(col("commit_lsn"), col("lsn"))).as("v"))
    val lines = latestLines
      .groupBy("key", "probe_lsn")
      .agg(
        count(lit(1)).as("n_pairs"),
        sort_array(collect_list(
          when(col("v.op") =!= "d", struct(col("line_id"), col("v.row").as("row")))))
          .as("lines"))

    // Assemble + emission gating. A probe with no header is dropped (INNER
    // join semantics). A left-changed probe with zero right events as-of L
    // produces no pairs → no emission (the reference emits only from
    // processRecord calls), so every emitted row has a non-null lines array.
    // deleted ⇔ the header's latest op is a delete.
    header.join(lines, Seq("key", "probe_lsn"), "left")
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .where(col("left_lsn") < col("probe_lsn") || col("n_pairs") > 0)
      .select(
        col("key"),
        col("probe_lsn").as("commit_lsn"),
        col("row"),
        col("lines"),
        (col("left_op") === "d").as("deleted"))
  }

  /** [[replay]] re-expressed as ONE sorted per-key scan — the versioned-key
    * (hot-key) form. The declarative replay resolves each probe by joining
    * it against every event version of its key: per key that costs
    * O(versions × probes), which is quadratic when single keys are updated
    * across many transactions (the regime the reference's per-key ListState
    * buffer handles natively — `TxAware…Operator.java:221-266` walks the
    * buffer once per flush). This form merges left events, right events,
    * and probes into one key-partitioned stream sorted by
    * (commit_lsn, lsn), replays it through per-key running state (latest
    * left + latest right per line id), and emits each probe's document at
    * the moment the scan passes it — O((V+P) log (V+P)) sort plus
    * output-sized emission, never V×P.
    *
    * Cost of admission: the scan is a typed `flatMapSortedGroups` — the
    * per-key loop leaves whole-stage codegen, and every row crosses the
    * encoder boundary once. Measured at sf0.1 (SCALING.md, "Tx replay
    * design measurements"): the
    * declarative form wins on wide-and-shallow CDC (≤2 versions/key — the
    * expansion IS the output); this form wins on hot keys (200 keys × 400
    * txs: the join expansion is 80× the output). Pick by update depth;
    * both produce identical rows (TxReplaySortedSpec asserts equality on
    * both regimes). Inside [[graft.streaming.TxReplayStream]] the two are
    * a measured wash (same SCALING.md section, 2 batches at sf0.1: 24.2 s
    * vs 24.7 s) — per-batch cost there is dominated by state persistence, and
    * compaction keeps per-key version depth shallow, so the stream keeps
    * the declarative form.
    *
    * Sort-order contract: probes carry lsn = Long.MaxValue, so at equal
    * commit_lsn a probe sorts after every real event — "as of L" is
    * inclusive, matching the `commit_lsn <= probe_lsn` predicate of the
    * join form. State updates are last-write-wins in (commit_lsn, lsn)
    * order, matching `max_by`.
    */
  def replaySorted(left: DataFrame, right: DataFrame, txEnds: DataFrame,
                   reachable: Option[DataFrame] = None): DataFrame = {
    val (l, r, probes) = staged(left, right, txEnds, reachable, None)
    val lRowType = l.schema("row").dataType
    val rRowType = r.schema("row").dataType

    // The scan reads scalar columns through typed getters, so pin the input
    // contract's LONG types explicitly (a no-op for conforming inputs; an
    // INT key or a commit_lsn that arrived as a wider numeric through an
    // expression is narrowed here instead of failing row-by-row).
    val asLong = (c: String) => col(c).cast(LongType).as(c)
    val unified = l.select(asLong("key"), asLong("commit_lsn"), asLong("lsn"),
        lit(0).as("kind"), lit(null).cast(LongType).as("line_id"), col("op"),
        col("row").as("lrow"), lit(null).cast(rRowType).as("rrow"))
      .unionByName(r.select(asLong("key"), asLong("commit_lsn"), asLong("lsn"),
        lit(1).as("kind"), asLong("line_id"), col("op"),
        lit(null).cast(lRowType).as("lrow"), col("row").as("rrow")))
      .unionByName(probes.select(asLong("key"),
        col("probe_lsn").cast(LongType).as("commit_lsn"),
        lit(Long.MaxValue).as("lsn"), lit(2).as("kind"),
        lit(null).cast(LongType).as("line_id"),
        lit(null).cast(StringType).as("op"),
        lit(null).cast(lRowType).as("lrow"), lit(null).cast(rRowType).as("rrow")))

    val lineType = StructType(Seq(
      StructField("line_id", LongType),
      StructField("row", rRowType)))
    val outSchema = StructType(Seq(
      StructField("key", LongType),
      StructField("commit_lsn", LongType),
      StructField("row", lRowType),
      StructField("lines", ArrayType(lineType)),
      StructField("deleted", BooleanType)))

    unified
      .groupByKey((row: Row) => row.getLong(0))(Encoders.scalaLong)
      .flatMapSortedGroups(col("commit_lsn"), col("lsn"), col("kind")) {
        (key: Long, rows: Iterator[Row]) =>
          // running state: latest left version + latest right per line id
          var leftLsn = Long.MinValue
          var leftOp: String = null
          var leftRow: Row = null
          val lines = scala.collection.mutable.TreeMap.empty[Long, (String, Row)]
          rows.flatMap { e =>
            e.getInt(3) match {
              case 0 => // left event
                leftLsn = e.getLong(1); leftOp = e.getString(5)
                leftRow = e.getStruct(6); Iterator.empty
              case 1 => // right event
                lines(e.getLong(4)) = (e.getString(5), e.getStruct(7))
                Iterator.empty
              case _ => // probe: emit the document as of this commit LSN
                val probeLsn = e.getLong(1)
                val nPairs = lines.size
                // INNER semantics (no left as-of → nothing) and the
                // reference's emit gate: a left-changed-only probe with
                // zero pairs produces no document
                if (leftRow != null && (leftLsn < probeLsn || nPairs > 0)) {
                  // no right rows as-of L → NULL lines; some rows but all
                  // deleted → empty array (the collect_list contract)
                  val arr: Array[Row] =
                    if (nPairs == 0) null
                    else lines.iterator.collect {
                      case (id, (op, rw)) if op != "d" => Row(id, rw)
                    }.toArray
                  Iterator.single(Row(key, probeLsn, leftRow, arr, leftOp == "d"))
                } else Iterator.empty
            }
          }
      }(Encoders.row(outSchema))
      .toDF()
  }

  /** S8/O10: tombstone encoding of the replay output — key JSON + value JSON,
    * null value for deleted docs (`OrderWithLinesSerializationSchema.java:41-75`).
    */
  def encodeTombstones(emitted: DataFrame): DataFrame =
    emitted.select(
      to_json(struct(col("key").as("id"))).as("kafka_key"),
      when(col("deleted"), lit(null).cast(StringType))
        .otherwise(to_json(struct(col("key"), col("commit_lsn"), col("row"), col("lines"))))
        .as("kafka_value"))
}
