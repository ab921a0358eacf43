package perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options; run.py passes all of them. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      dataDir: String, pins: Path, runDir: Path, out: Path,
                      traceOut: Path)

/** What one run reports. Metrics are recorded under their BENCHMARK.json
  * names; run.py picks the end-to-end or the per-layer set and adds units.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val details: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  def put(name: String, value: Double): Unit = metrics(name) = value
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] WRONG OUTPUT: $what") }
  }
  def json: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val ms = metrics.map { case (k, v) => s"${q(k)}:$v" }
    val ds = details.map { case (k, v) => s"${q(k)}:${q(v)}" }
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}},""" +
      s""""details":{${ds.mkString(",")}}}"""
  }
}

/** Shared state of a run: the session, the optional trace, and the clocks
  * that set-up time is measured from.
  */
final class Ctx(val opts: Opts, val spark: SparkSession, val trace: Option[Trace],
                val result: Result) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Largest live set seen by `sampleLive`, in MB. */
  var peakLiveMb = 0.0
  /** Process CPU spent in `sampleLive`'s collections, to leave out of `cpu_s`. */
  var sampleCpuS = 0.0

  /** Called between timed calls, outside their latency: a full collection,
    * then heap used plus non-heap used (metaspace, code cache) plus direct
    * and mapped buffers. That is the memory the program holds on to, which
    * the fixed heap's resident size would not show.
    */
  def sampleLive(): Unit = {
    val c0 = cpuS
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean])
      .asScala.map(_.getMemoryUsed).sum
    val bytes = mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed + buffers
    peakLiveMb = math.max(peakLiveMb, bytes / 1048576.0)
    sampleCpuS += cpuS - c0
  }
  def span[T](name: String, parent: String = "")(f: => T): T = trace match {
    case Some(t) => t.span(name, parent)(f)
    case None => f
  }
  def dir(name: String): String = {
    Files.createDirectories(opts.runDir.resolve(name)).toString
  }
}

/** Entry point of one benchmark run; see perfbench/NOTES.md. */
object Main {
  def now(): Long = System.nanoTime()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Peak resident set size of this JVM, from /proc; with the fixed heap it
    * mostly reflects the heap setting, so it is printed, not gated.
    */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  /** The tail of a run's call latencies and the number of calls it covers:
    * the mean of the slowest quarter, at least one call. A run holds too
    * few calls for the highest percentile with ten calls beyond it, and a
    * mean over several slow calls is steadier than the single slowest.
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val k = math.max(1, xs.size / 4)
    (xs.sorted.takeRight(k).sum / k, k)
  }

  /** Repeat `f` `n` times; return the last result and every duration. */
  def repeated[T](n: Int)(f: => T): (T, Seq[Double]) = {
    var last: Option[T] = None
    val times = (1 to n).map { _ => val t0 = now(); last = Some(f); secondsSince(t0) }
    (last.get, times)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), Paths.get(m("pins")), Paths.get(m("run-dir")), Paths.get(m("out")), Paths.get(m("trace-out")))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val result = new Result
    val t0 = now()
    val spark = graft.Sessions.build(s"perfbench-${opts.workload}")
    val sessionS = secondsSince(t0)
    val trace = if (opts.trace) Some(new Trace(spark.sparkContext)) else None
    val ctx = new Ctx(opts, spark, trace, result)
    result.put("sessions.build_s", sessionS)
    try {
      opts.workload match {
        case "cdc_replay_stream" => Streams.replay(ctx)
        case "batch_query_mix" => Mix.run(ctx)
        case "pin_query_mix" => Mix.pin(ctx)
        case w => sys.error(s"unknown workload $w")
      }
      trace.foreach { t =>
        t.drain()
        t.write(opts.traceOut)
      }
      Files.writeString(opts.out, result.json)
    } finally spark.stop()
  }
}
