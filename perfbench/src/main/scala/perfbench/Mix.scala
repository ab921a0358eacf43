package perfbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The batch_query_mix workload: named `SparkEntry.queries`, each
  * materialized with a `noop` write, in a seed-permuted order per pass. The
  * timed section runs as many whole passes as fit in `--seconds`, at least
  * one. No streaming engine runs.
  */
object Mix {
  import Main._

  /** Query → layer. `ops` is graft.ops + graft.cdc through ReferenceQueries,
    * `tx` is graft.tx.TxReplay through TxQueries, `scale` is graft.scale
    * (with graft.functions and graft.plans inside it), and
    * `streaming.segment_store` is graft.streaming.SegmentStore.
    */
  val Layers: Seq[(String, Seq[String])] = Seq(
    "ops" -> Seq("q_denorm_orders_lines", "q_toast_backfill", "q_envelope_roundtrip"),
    "tx" -> Seq("q_tx_replay_orders"),
    "scale" -> Seq("q_bm25_topk", "q_cms_freq", "q_dsir_weights", "q_classifier_score"),
    "streaming.segment_store" -> Seq("q_chunk_index_upsert", "q_index_pinned"))
  val Queries: Seq[String] = Layers.flatMap(_._2)
  private val layerOf: Map[String, String] =
    Layers.flatMap { case (l, qs) => qs.map(_ -> l) }.toMap

  private def query(ctx: Ctx, name: String): DataFrame =
    graft.SparkEntry.queries(name)(ctx.spark, ctx.opts.dataDir)

  /** One timed call: the query fully materialized. Dropping the query's
    * cache fences afterwards is harness bookkeeping, outside the timing.
    */
  private def call(ctx: Ctx, name: String): Double = {
    val t0 = now()
    ctx.span(s"query.$name", layerOf(name)) {
      query(ctx, name).write.mode("overwrite").format("noop").save()
    }
    val s = secondsSince(t0)
    ctx.spark.catalog.clearCache()
    s
  }

  /** Row count and an order-independent hash (sum of xxhash64 over the
    * columns sorted by name) of a query's output.
    */
  def digest(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(df.columns.sorted.toIndexedSeq.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Pinned (rows, hash) per query, from pins.json. */
  private def loadPins(ctx: Ctx): Map[String, (Long, String)] = {
    val text = Files.readString(ctx.opts.pins)
    val entry = """"(q_\w+)":\s*\{"rows":\s*(\d+),\s*"hash":\s*"(-?\d+)"\}""".r
    entry.findAllMatchIn(text).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  def run(ctx: Ctx): Unit = {
    val pins = loadPins(ctx)
    require(Queries.forall(pins.contains), s"pins.json lacks ${Queries.filterNot(pins.contains)}")
    val result = ctx.result
    // warm-up pass, which is also the output gate: every query's row count
    // and hash must match its pin. The segment-store queries go first: their
    // first call builds their scratch stores under this run's own
    // java.io.tmpdir.
    def gate(q: String): Unit = {
      val got = try digest(query(ctx, q)) catch {
        case e: Exception => (-1L, s"threw ${e.getMessage}")
      }
      ctx.spark.catalog.clearCache()
      result.check(got == pins(q), s"$q gave (rows, hash) $got, pinned ${pins(q)}")
    }
    val stores = Layers.toMap.apply("streaming.segment_store")
    val warmT0 = now()
    stores.foreach(gate)
    val storeS = secondsSince(warmT0)
    val rnd = new scala.util.Random(ctx.opts.seed)
    rnd.shuffle(Queries.filterNot(stores.contains)).foreach(gate)
    val warmS = secondsSince(warmT0)

    val setupS = (System.currentTimeMillis() - ctx.jvmStartMs) / 1000.0
    val passes = ArrayBuffer.empty[Map[String, Double]]
    def walls = passes.map(_.values.sum).toSeq
    val cpu0 = ctx.cpuS - ctx.sampleCpuS
    val t0 = now()
    while (passes.isEmpty || secondsSince(t0) + median(walls) <= ctx.opts.seconds)
      passes += rnd.shuffle(Queries).map { q =>
        val s = call(ctx, q)
        ctx.sampleLive()
        q -> s
      }.toMap
    val timedS = secondsSince(t0)
    val cpuS = ctx.cpuS - ctx.sampleCpuS - cpu0

    val lat = passes.flatMap(_.values).toSeq
    val rows = Queries.map(pins(_)._1).sum.toDouble
    result.put("setup_s", setupS)
    result.put("events_per_s", rows * passes.size / walls.sum)
    result.put("trigger_latency_p50_s", median(lat))
    val (tailS, tailN) = tail(lat)
    result.put("trigger_latency_tail_s", tailS)
    result.put("mix_wall_s", median(walls))
    result.put("cpu_s", cpuS / passes.size)
    result.put("peak_live_mb", ctx.peakLiveMb)
    result.put("streaming.segment_store.build_s", storeS)
    result.details ++= Seq(
      "trigger_latency_tail" -> s"mean of the slowest $tailN of n=${lat.size} query calls",
      "passes" -> s"${passes.size} passes of ${Queries.size} queries, timed section ${timedS}s",
      "vm_hwm_mb" -> peakRssMb.toString,
      "warmup_s" -> warmS.toString)

    ctx.trace.foreach { t =>
      t.drain()
      // timed passes only: the last passes.size * Queries.size query spans
      val spans = t.spans.filter(_.name.startsWith("query.")).takeRight(passes.size * Queries.size)
        .grouped(Queries.size).toSeq
      Layers.foreach { case (layer, qs) =>
        val perPass = spans.map { p =>
          val mine = p.filter(s => qs.contains(s.name.stripPrefix("query.")))
          (mine.map(_.seconds).sum, mine.map(t.cost).foldLeft(Cost.zero)(_ + _))
        }
        def m(f: ((Double, Cost)) => Double) = median(perPass.map(f))
        result.put(s"$layer.wall_s", m(_._1))
        result.put(s"$layer.task_cpu_s", m(_._2.taskCpuS))
        result.put(s"$layer.tasks", m(_._2.tasks.toDouble))
        result.put(s"$layer.shuffle_bytes", m(_._2.shuffleBytes.toDouble))
        result.put(s"$layer.spill_bytes", m(_._2.spillBytes.toDouble))
        result.put(s"$layer.no_task_s", m(_._2.noTaskS))
      }
      Queries.foreach(q => result.put(s"query.$q.wall_s", median(passes.map(_(q)).toSeq)))
    }
  }

  /** Writes each query's output (one parquet dir per query, plus
    * oracle_sql.json for tools/check.py) and candidate pins to
    * `<run-dir>/verify`. perfbench/pin.py checks the outputs against the
    * DuckDB oracle before it adopts the pins.
    */
  def pin(ctx: Ctx): Unit = {
    val out = ctx.dir("verify")
    val pins = Queries.map { q =>
      val df = query(ctx, q)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      ctx.spark.catalog.clearCache()
      val live = digest(query(ctx, q))
      ctx.spark.catalog.clearCache()
      val written = digest(ctx.spark.read.parquet(s"$out/$q"))
      ctx.result.check(live == written, s"$q: live $live, written $written")
      s""""$q": {"rows": ${live._1}, "hash": "${live._2}"}"""
    }
    Files.writeString(java.nio.file.Paths.get(s"$out/pins.json"),
      pins.mkString("{\n  ", ",\n  ", "\n}\n"))
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val oracle = Queries.map(n => s"${q(n)}: ${q(graft.SparkEntry.oracleSql(n))}")
    Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      oracle.mkString("{", ",", "}"))
  }
}
