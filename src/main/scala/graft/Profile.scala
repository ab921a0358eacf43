package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FormattedMode, LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query cost profile of [[SparkEntry.queries]]:
  * `sbt "runMain graft.Profile <sfDir> [q1,q2,…] [--plans <dir>]"`.
  *
  * Each query runs once cold, then [[WarmRuns]] times warm, materialized as
  * in `graft.Bench` (a `noop` write; `clearCache()` outside the timed
  * window). The result is `PROFILE.json` in the working directory: one
  * object holding the sf dir, the session's core count (`SPARK_GRAFT_CPUS`)
  * and one row per query:
  *  - `cold_s`, and `warm_s`, the fastest warm run;
  *  - from the last warm run: `jobs`; `stage_tasks`, the task count of each
  *    completed stage in stage-id order; `task_cpu_ms`; `input_bytes`;
  *    `shuffle_read_bytes`; `shuffle_write_bytes`; `spill_bytes` (memory
  *    plus disk, as perfbench counts it); `compiles`, the generated classes
  *    compiled; and `plan`, the settled final plan's hash and
  *    single-partition shuffles, broadcasts, scans (leaf nodes) and joins,
  *    the counts `PlanShapeSpec` reads off the plan's text;
  *  - `{"failed":true}` for a query that throws.
  *
  * `--plans <dir>` also writes `<dir>/<q>.txt`, the last warm run's
  * formatted plan. Run from a fresh `java.io.tmpdir`, the cold row of a
  * query that builds a scratch store on first use (`q_index_pinned`,
  * `q_bm25_pinned`, `q_dedup_pinned`) includes the build, and its warm
  * rows are the probe alone.
  */
object Profile {
  val WarmRuns = 3

  def main(args: Array[String]): Unit = {
    val i = args.indexOf("--plans")
    val rest = if (i < 0) args.toSeq else args.toSeq.patch(i, Nil, 2)
    val names = rest.lift(1).fold(SparkEntry.queries.keys.toSeq)(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val spark = Sessions.build("graft-profile")
    try write(spark, rest.head, names, Paths.get("PROFILE.json"),
      if (i < 0) None else Some(Paths.get(args(i + 1))))
    finally spark.stop()
  }

  /** Profile `names` over `sf` in `spark`; the JSON goes to `out`. */
  def write(spark: SparkSession, sf: String, names: Seq[String], out: Path,
            plans: Option[Path]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    plans.foreach(Files.createDirectories(_))
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try {
      val rows = names.sorted.map(n => s""""$n":${profile(spark, sf, n, rec, plans)}""")
      Files.writeString(out, s"""{"metric":"profile","sf":"$sf",""" +
        s""""cpus":${spark.sparkContext.defaultParallelism},"warm_runs":$WarmRuns,""" +
        rows.mkString(""""queries":{""", ",\n", "}}\n"))
    } finally {
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  /** One query's row. */
  private def profile(spark: SparkSession, sf: String, name: String,
                      rec: Recorder, plans: Option[Path]): String = {
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(): (Double, Long) = {
      ListenerBridge.drain(spark.sparkContext)
      rec.reset()
      val c0 = compiled
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
      val r = ((System.nanoTime() - t0) / 1e9, compiled - c0)
      spark.catalog.clearCache()
      r
    }
    try {
      val runs = (0 to WarmRuns).map(_ => run())
      ListenerBridge.drain(spark.sparkContext)
      plans.foreach(d => Files.writeString(d.resolve(s"$name.txt"),
        rec.last.explainString(FormattedMode)))
      val plan = nodes(rec.last.executedPlan)
      def count(f: PartialFunction[SparkPlan, Unit]) = plan.count(f.isDefinedAt)
      val m = rec.stages.map(_.taskMetrics)
      System.err.println(f"[profile] $name: cold ${runs.head._1}%.2f s, " +
        f"warm ${runs.tail.map(_._1).min}%.2f s, ${rec.jobs} jobs")
      s"""{"cold_s":${runs.head._1},"warm_s":${runs.tail.map(_._1).min},""" +
        s""""jobs":${rec.jobs},"stage_tasks":""" +
        rec.stages.sortBy(_.stageId).map(_.numTasks).mkString("[", ",", "]") +
        s""","task_cpu_ms":${m.map(_.executorCpuTime).sum / 1000000},""" +
        s""""input_bytes":${m.map(_.inputMetrics.bytesRead).sum},""" +
        s""""shuffle_read_bytes":${m.map(_.shuffleReadMetrics.totalBytesRead).sum},""" +
        s""""shuffle_write_bytes":${m.map(_.shuffleWriteMetrics.bytesWritten).sum},""" +
        s""""spill_bytes":${m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).sum},""" +
        s""""compiles":${runs.last._2},"plan":{""" +
        s""""exchange_hash":${count { case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => }},""" +
        s""""exchange_single":${count { case e: ShuffleExchangeExec
          if e.outputPartitioning == SinglePartition => }},""" +
        s""""broadcast_exchange":${count { case _: BroadcastExchangeExec => }},""" +
        s""""scans":${count { case _: LeafExecNode => }},""" +
        s""""joins":${count { case _: BaseJoinExec => }}}}"""
    } catch { case NonFatal(e) =>
      System.err.println(s"[profile] $name failed: $e")
      spark.catalog.clearCache()
      """{"failed":true}"""
    }
  }

  /** The settled plan's nodes, through query stages and subqueries. A
    * reused exchange stands for its exchange, as in the plan's text that
    * `PlanShapeSpec` counts; a cached relation is one scan, without the
    * plan that filled it (cached plans nest, so an iterative query's text
    * repeats every earlier round's plan in each later one).
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** The jobs, completed stages and last successful query execution that
    * the listener bus delivered since `reset`.
    */
  private class Recorder extends SparkListener with QueryExecutionListener {
    @volatile var jobs = 0
    val stages: ArrayBuffer[StageInfo] = ArrayBuffer.empty
    @volatile var last: QueryExecution = _
    def reset(): Unit = { jobs = 0; stages.clear(); last = null }
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages += e.stageInfo
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = last = qe
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
