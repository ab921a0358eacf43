package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Per-query counters (top-level: a case class nested in the listener class
  * would capture an outer reference pattern-matching can't check).
  */
final case class QueryMetrics(name: String, eventsSeen: Long, batches: Long,
                              lastBatchMs: Long, lastInputRows: Long,
                              stateRows: Long)

/** §2.8 observability — the reference dashboards track Debezium's
  * `TotalNumberOfEventsSeen` and `MilliSecondsBehindSource` plus retained-WAL
  * gauges (`postgres-replication-slots/grafana/.../replication_dashboard.json:51,84,160`).
  * Structured Streaming exposes the same signals through query progress;
  * this listener folds them into per-query counters a metrics exporter can
  * scrape.
  *
  * Mapping: events-seen ↔ cumulative `numInputRows`; behind-source ↔ batch
  * duration (processing lag proxy; with an event-time watermark the
  * `eventTime.watermark` gap is the exact analogue); state size ↔
  * `stateOperators.numRowsTotal`.
  */
class GraftMetricsListener extends StreamingQueryListener {

  private val byQuery = TrieMap.empty[java.util.UUID, QueryMetrics]

  override def onQueryStarted(event: QueryStartedEvent): Unit =
    byQuery.put(event.id, QueryMetrics(Option(event.name).getOrElse(event.id.toString),
      0L, 0L, 0L, 0L, 0L))

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val prev = byQuery.getOrElse(p.id,
      QueryMetrics(Option(p.name).getOrElse(p.id.toString), 0L, 0L, 0L, 0L, 0L))
    val stateRows = Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
    byQuery.put(p.id, prev.copy(
      eventsSeen = prev.eventsSeen + p.numInputRows,
      batches = prev.batches + 1,
      lastBatchMs = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
      lastInputRows = p.numInputRows,
      stateRows = stateRows))
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  /** Current per-query metrics snapshot (keyed by query name). */
  def snapshot: Map[String, QueryMetrics] =
    byQuery.values.map(m => m.name -> m).toMap
}
