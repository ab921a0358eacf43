package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{TxReplayNative, TxReplayStream}
import graft.tx.TxReplay

/** Count plus an order-independent hash of a document set: the sum of
  * per-document 64-bit hashes over key, commit_lsn, row, the lines sorted
  * by line id, and deleted.
  */
final case class Digest(count: Long, hash: Long)
object Digest {
  def of(docs: Iterator[Row]): Digest = {
    var n = 0L
    var h = 0L
    docs.foreach { d =>
      val lines = Option(d.getSeq[Row](3)).map(_.sortBy(_.getLong(0))
        .map(l => s"${l.getLong(0)}=${l.getStruct(1)}").mkString("[", ",", "]"))
      val s = s"${d.getLong(0)}|${d.getLong(1)}|${d.getStruct(2)}|$lines|${d.getBoolean(4)}"
      n += 1
      h += (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
    }
    Digest(n, h)
  }
}

/** The cdc_replay_stream workload: the generated backlog drained trigger by
  * trigger through TxReplayStream.processBatch. A pass drains the whole
  * backlog into fresh engine state, so every pass is the same work; the
  * timed section runs as many whole passes as fit in `--seconds`, at least
  * one. The traced run also drains the same backlog through
  * TxReplayNative.docs, for the native engine's per-layer figures.
  */
object Streams {
  import Main._

  /** Triggers drained before timing, on their own engine state: the first
    * trigger's planning and code generation are paid here. The replay
    * warm-up compacts at `WarmCompactSegments` segments, so its first
    * trigger appends and its second compacts every bucket: both paths are
    * planned and compiled before the timed passes reach them.
    */
  val WarmTriggers = 2
  val WarmCompactSegments = 1

  /** The backlog is generated this many times in set-up; set-up time counts
    * the median generation.
    */
  val GenReps = 3

  /** One trigger: its latency and, in the traced run, its layer figures. */
  private final case class TriggerRun(latencyS: Double, layer: Map[String, Double])

  /** Layer figures of a pass's triggers: `_p50` keys take the median,
    * `@pass` keys are summed per pass, `@last` keys are read after the
    * pass's last trigger, `@max` keys take the peak, and the rest are
    * averaged per trigger.
    */
  private def layerMetrics(ctx: Ctx, prefix: String, runs: Seq[TriggerRun], passes: Int): Unit =
    runs.flatMap(_.layer.keys).distinct.foreach { k =>
      val vs = runs.map(_.layer.getOrElse(k, 0.0))
      val (name, v) =
        if (k.endsWith("_p50")) (k, median(vs))
        else if (k.endsWith("@pass")) (k.stripSuffix("@pass"), vs.sum / passes)
        else if (k.endsWith("@last")) (k.stripSuffix("@last"), vs.sum / passes)
        else if (k.endsWith("@max")) (k.stripSuffix("@max"), vs.max)
        else (s"${k}_per_trigger", vs.sum / vs.size)
      ctx.result.put(s"$prefix.$name", v)
    }

  /** The `tx` layer's cost over `spans` (the gate's one-shot replay). */
  private def txLayer(ctx: Ctx, t: Trace, spans: Seq[Span]): Unit = {
    val c = spans.map(t.cost).foldLeft(Cost.zero)(_ + _)
    val r = ctx.result
    r.put("tx.wall_s", spans.map(_.seconds).sum)
    r.put("tx.task_cpu_s", c.taskCpuS)
    r.put("tx.tasks", c.tasks)
    r.put("tx.shuffle_bytes", c.shuffleBytes.toDouble)
    r.put("tx.spill_bytes", c.spillBytes.toDouble)
    r.put("tx.no_task_s", c.noTaskS)
  }

  /** Delivered ENDs (through trigger `upTo`) whose commit LSN is above
    * `watermark`.
    */
  private def pending(backlog: Backlog, upTo: Int, watermark: Long): Double =
    backlog.triggers.take(upTo + 1).iterator.flatMap(_.ends)
      .count(_.getLong(1) > watermark).toDouble

  private def dirBytes(root: String): Double = {
    val w = Files.walk(Paths.get(root))
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
    finally w.close()
  }

  def replay(ctx: Ctx): Unit = {
    val spark = ctx.spark
    type Frames = Vector[(DataFrame, DataFrame, DataFrame)]
    val ((backlog, frames), repS) = repeated(GenReps) {
      val b = Gen.build(spark, ctx.opts.dataDir, ctx.opts.seed)
      val f: Frames = b.triggers.map(t =>
        (b.leftDf(spark, t.left), b.rightDf(spark, t.right), b.endsDf(spark, t.ends)))
      (b, f)
    }
    var passNo = 0
    /** Drain `fs` into fresh state; returns (summed trigger latency, digest). */
    def drain(fs: Frames, record: TriggerRun => Unit, compactSegments: Int = 4): (Double, Digest) = {
      val root = ctx.dir(s"state/replay-$passNo")
      passNo += 1
      val engine = new TxReplayStream(spark, root, compactSegments = compactSegments)
      val docs = ArrayBuffer.empty[Row]
      var wall = 0.0
      fs.zipWithIndex.foreach { case ((l, r, e), i) =>
        val segsBefore = ctx.trace.map(_ => Seq("left", "right").map(engine.liveSegments))
        var processS = 0.0
        val t0 = now()
        docs ++= ctx.span("streaming.replay.trigger") {
          val p0 = now()
          val df = ctx.span("streaming.replay.process_batch", "streaming.replay.trigger") {
            engine.processBatch(l, r, e)
          }
          processS = secondsSince(p0)
          df.collect()
        }
        val lat = secondsSince(t0)
        wall += lat
        val layer = ctx.trace.fold(Map.empty[String, Double]) { t =>
          t.drain()
          val c = t.cost(t.spans.last) // the trigger span closes last
          val compacted = segsBefore.get.zip(Seq("left", "right").map(engine.liveSegments))
            .map { case (before, after) => before.count { case (b, vs) => after(b).size < vs.size } }
            .sum
          Map("process_batch_s_p50" -> processS,
            "jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble, "tasks" -> c.tasks.toDouble,
            "no_task_s" -> c.noTaskS, "task_cpu_s" -> c.taskCpuS,
            "shuffle_bytes" -> c.shuffleBytes.toDouble, "input_bytes" -> c.inputBytes.toDouble,
            "pending_txs_p50" -> pending(backlog, i, engine.currentWatermark),
            "buckets_compacted@pass" -> compacted.toDouble,
            "state_bytes@last" -> (if (i == fs.size - 1) dirBytes(root) else 0.0))
        }
        record(TriggerRun(lat, layer))
      }
      (wall, Digest.of(docs.iterator))
    }

    val warmT0 = now()
    drain(frames.take(WarmTriggers), _ => (), WarmCompactSegments)
    val warmS = secondsSince(warmT0)
    val setupS = (System.currentTimeMillis() - ctx.jvmStartMs) / 1000.0 - repS.sum + median(repS)

    val triggers = ArrayBuffer.empty[TriggerRun]
    val walls = ArrayBuffer.empty[Double]
    val digests = ArrayBuffer.empty[Digest]
    val cpu0 = ctx.cpuS - ctx.sampleCpuS
    val t0 = now()
    while (walls.isEmpty || secondsSince(t0) + median(walls.toSeq) <= ctx.opts.seconds) {
      val (wall, d) = drain(frames, { r => triggers += r; ctx.sampleLive() })
      walls += wall
      digests += d
    }
    val timedS = secondsSince(t0)
    val cpuS = ctx.cpuS - ctx.sampleCpuS - cpu0

    // output gate, after timing: each pass's documents equal a one-shot
    // TxReplay.replay of the whole backlog
    val all = backlog.triggers
    val expected = ctx.span("tx.one_shot_replay") {
      Digest.of(TxReplay.replay(
        backlog.leftDf(spark, all.flatMap(_.left)),
        backlog.rightDf(spark, all.flatMap(_.right)),
        backlog.endsDf(spark, all.flatMap(_.ends))).collect().iterator)
    }
    val result = ctx.result
    digests.zipWithIndex.foreach { case (d, i) =>
      result.check(d == expected, s"replay pass $i emitted $d, one-shot replay gives $expected")
    }

    val lat = triggers.map(_.latencyS).toSeq
    result.put("setup_s", setupS)
    result.put("events_per_s", backlog.events * walls.size / walls.sum)
    result.put("trigger_latency_p50_s", median(lat))
    val (tailS, tailN) = tail(lat)
    result.put("trigger_latency_tail_s", tailS)
    result.put("mix_wall_s", median(walls.toSeq))
    result.put("cpu_s", cpuS / walls.size)
    result.put("peak_live_mb", ctx.peakLiveMb)
    result.put("gen.build_s", median(repS))
    result.details ++= Seq(
      "trigger_latency_tail" -> s"mean of the slowest $tailN of n=${lat.size} triggers",
      "trigger_latencies_s" -> lat.map(x => f"$x%.2f").mkString(" "),
      "passes" -> (s"${walls.size} of ${all.size} triggers, ${backlog.events} events and " +
        s"${expected.count} documents each; timed section ${timedS}s"),
      "vm_hwm_mb" -> peakRssMb.toString,
      "warmup_s" -> warmS.toString)

    ctx.trace.foreach { t =>
      t.drain()
      layerMetrics(ctx, "streaming.replay", triggers.toSeq, walls.size)
      txLayer(ctx, t, t.spans.filter(_.name == "tx.one_shot_replay").toSeq)
      native(ctx, t, backlog, expected)
    }
  }

  /** The native engine over the same backlog and trigger slicing: a warm-up
    * and one measured pass through TxReplayNative.docs on RocksDB state,
    * fed through a MemoryStream into a memory sink, gated like the replay.
    */
  private def native(ctx: Ctx, t: Trace, backlog: Backlog, expected: Digest): Unit = {
    val spark = ctx.spark
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val schema = StructType(Seq(
      StructField("stream", StringType), StructField("key", LongType),
      StructField("line_id", LongType), StructField("op", StringType),
      StructField("lsn", LongType), StructField("tx_id", LongType),
      StructField("orow", backlog.leftSchema("row").dataType),
      StructField("lrow", backlog.rightSchema("row").dataType),
      StructField("commit_lsn", LongType), StructField("expected_left", LongType),
      StructField("expected_right", LongType)))
    // each trigger's events as rows of the one unioned input stream
    val batches = backlog.triggers.map(tr =>
      tr.left.map(r => Row("l", r.getLong(0), -1L, r.getString(1), r.getLong(2), r.getLong(3),
        r.getStruct(4), null, -1L, -1L, -1L)) ++
      tr.right.map(r => Row("r", r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), null, r.getStruct(5), -1L, -1L, -1L)) ++
      tr.ends.map(e => Row("t", -1L, -1L, null, -1L, e.getLong(0), null, null, e.getLong(1),
        e.getLong(2), e.getLong(3))))

    def drain(name: String, bs: Seq[Seq[Row]], record: TriggerRun => Unit): Digest = {
      val in = MemoryStream[Row](Encoders.row(schema), spark.sqlContext)
      val df = in.toDF()
      val l = df.filter(col("stream") === "l")
        .select(col("key"), col("op"), col("lsn"), col("tx_id"), col("orow").as("row"))
      val r = df.filter(col("stream") === "r")
        .select(col("key"), col("line_id"), col("op"), col("lsn"), col("tx_id"),
          col("lrow").as("row"))
      val e = df.filter(col("stream") === "t")
        .select(col("tx_id"), col("commit_lsn"), col("expected_left"), col("expected_right"))
      val q = TxReplayNative.docs(l, r, e)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ctx.dir(s"checkpoint/$name"))
        .start()
      var seen = -1L
      try {
        bs.zipWithIndex.foreach { case (rows, i) =>
          val t0 = now()
          t.span("streaming.native.trigger") {
            in.addData(rows)
            q.processAllAvailable()
          }
          val lat = secondsSince(t0)
          t.drain()
          val c = t.cost(t.spans.last)
          val progress = q.recentProgress.filter(_.batchId > seen).toSeq
          seen = (seen +: progress.map(_.batchId)).max
          def dur(k: String) = progress.map(p =>
            Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1000.0
          val ops = progress.lastOption.map(_.stateOperators.toSeq).getOrElse(Seq.empty)
          val top = spark.table(name).agg(max("commit_lsn")).head()
          // stateOperators list the plan top-down: assembler, sequencer, completeness
          def rowsOf(j: Int) = if (ops.size == 3) ops(j).numRowsTotal.toDouble else 0.0
          record(TriggerRun(lat, Map(
            "trigger_s_p50" -> dur("triggerExecution"), "add_batch_s_p50" -> dur("addBatch"),
            "planning_s_p50" -> dur("queryPlanning"), "wal_commit_s_p50" -> dur("walCommit"),
            "state_commit_s_p50" ->
              progress.flatMap(_.stateOperators).map(_.commitTimeMs).sum / 1000.0,
            "state_rows.assembler@max" -> rowsOf(0),
            "state_rows.sequencer@max" -> rowsOf(1),
            "state_rows.completeness@max" -> rowsOf(2),
            "state_memory_bytes@max" -> ops.map(_.memoryUsedBytes).sum.toDouble,
            "tasks" -> c.tasks.toDouble, "no_task_s" -> c.noTaskS, "task_cpu_s" -> c.taskCpuS,
            "shuffle_bytes" -> c.shuffleBytes.toDouble,
            "pending_txs_p50" -> pending(backlog, i,
              if (top.isNullAt(0)) Long.MinValue else top.getLong(0)))))
        }
        Digest.of(spark.table(name).collect().iterator)
      } finally q.stop()
    }

    drain("native_warm", batches.take(WarmTriggers), _ => ())
    val runs = ArrayBuffer.empty[TriggerRun]
    val d = drain("native_pass", batches, runs += _)
    ctx.result.check(d == expected, s"native pass emitted $d, one-shot replay gives $expected")
    layerMetrics(ctx, "streaming.native", runs.toSeq, 1)
    ctx.result.details ++= Seq(
      "native_trigger_latencies_s" -> runs.map(r => f"${r.latencyS}%.2f").mkString(" "))
  }
}
