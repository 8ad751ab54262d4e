package ingestbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --root <dir> --launch-ms <epoch ms> [--trace-out <file>] [--selftest 1]`.
  *
  * The run builds its inputs from the seed, sets up the stores and warms up
  * (all of that is `setup_s`), attempts whole rounds of the workload's
  * operation until `--seconds` have passed, checks every output against
  * the benchmark's own model, and prints one JSON result line on stdout.
  * Everything it writes lives under `--root`, which the launcher deletes.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, root: String, launchMs: Double,
                        traceOut: Option[String], selftest: Boolean)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.get("trace").contains("1"), need("root"), need("launch-ms").toDouble,
      m.get("trace-out"), m.get("selftest").contains("1"))
  }

  val workloads: Map[String, Ctx => Workload] = Map(
    "audit_ingest" -> (c => new AuditIngest(c)),
    "audit_search" -> (c => new AuditSearch(c)),
    "pipeline_ingest" -> (c => new PipelineWorkload(c)))

  def main(argv: Array[String]): Unit = {
    val code =
      try { println(run(parseArgs(argv)).json); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code) // stream and pool threads must not keep the JVM alive
  }

  def run(a: Args): Result = {
    val make = workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val spark = graft.Graft.session(s"local[$cores]", shufflePartitions = cores)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, a)
    try {
      val w = make(ctx)
      w.setup()
      ctx.startTimed()
      w.timed()
      ctx.endTimed()
      val errors = w.check()
      errors.take(20).foreach(e => System.err.println(s"[check] $e"))
      if (a.selftest) {
        val misses = w.selfTest()
        misses.foreach(e => System.err.println(s"[selftest] $e"))
        if (errors.nonEmpty || misses.nonEmpty) sys.error("self-test failed")
        System.err.println(s"[selftest] ${a.workload}: every check passed on true output and failed on each corruption")
      }
      val metrics =
        if (a.trace) ctx.tracer.get.perLayer(w)
        else w.endToEnd()
      a.traceOut.foreach(p => ctx.tracer.foreach(_.writeSpans(p)))
      Result(errors.isEmpty, ctx.attempted, ctx.failed, metrics)
    } finally spark.stop()
  }
}

final case class Metric(value: Double, unit: String)

final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[(String, Metric)]) {
  def json: String = {
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    val ms = metrics.map { case (k, m) =>
      s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** A workload: set-up (untimed for the operation metrics, counted in
  * `setup_s`), a timed phase of whole rounds, a check against the
  * benchmark's own model, and a self-test that corrupts the checked
  * outputs and expects every check to fail.
  */
trait Workload {
  def setup(): Unit
  def timed(): Unit
  def check(): Seq[String]
  def selfTest(): Seq[String]
  def endToEnd(): Seq[(String, Metric)]
  // per-layer figures only a workload knows (traced runs)
  def blobHitRatio: Double = 0.0
  def livePartitions: Long = 0L
}

/** One timed operation, with its wall window in epoch milliseconds (the
  * clock Spark's listener events use) and the items it completed.
  */
final case class Op(kind: String, startMs: Double, endMs: Double, items: Long, rows: Long = 0L) {
  def ms: Double = endMs - startMs
}

/** Run-wide state: the session, the temp root, the timed window, the
  * operation log, the heap monitor and (traced runs) the tracer.
  */
final class Ctx(val spark: SparkSession, val args: Main.Args) {
  val root: String = args.root
  val ops = ArrayBuffer[Op]()
  var attempted = 0L
  var failed = 0L
  var setupS = 0.0
  var timedStartMs = 0.0
  var timedEndMs = 0.0
  val tracer: Option[Tracer] = if (args.trace) Some(new Tracer(spark, this)) else None
  private var procStart: Array[Long] = Array.empty
  private var heapPeak = 0L
  var explicitGcMs = 0L

  def nowMs: Double = System.nanoTime() / 1e6 + Ctx.nanoToEpochMs

  def deadlineMs: Double = timedStartMs + args.seconds * 1000.0

  /** Whole rounds: a new round starts only while time remains. */
  def timeLeft: Boolean = nowMs < deadlineMs

  def startTimed(): Unit = {
    fullGc() // the warm-up's garbage is set-up's, not the timed phase's
    heapPeak = 0L
    explicitGcMs = 0L
    procStart = Ctx.procStat()
    timedStartMs = nowMs
    setupS = (timedStartMs - args.launchMs) / 1000.0
    tracer.foreach(_.timedStarted())
  }

  def endTimed(): Unit = {
    timedEndMs = nowMs
    fullGc()
    tracer.foreach(_.timedEnded())
    val end = Ctx.procStat()
    if (procStart.nonEmpty && end.nonEmpty) {
      val d = end.zip(procStart).map { case (a, b) => a - b }
      val total = d.sum.toDouble
      val steal = if (d.length > 7 && total > 0) d(7) / total else 0.0
      ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
        System.err.println(f"[ops] $k%-8s n=${os.size}%4d median=${Stats.median(os.map(_.ms).toSeq)}%.1f ms")
      }
      System.err.println(f"[run-context] timed=${(timedEndMs - timedStartMs) / 1000}%.1f s " +
        f"cpu_steal=${steal * 100}%.2f%% loadavg=${Ctx.loadAvg()}")
    }
  }

  /** A full collection, then the heap in use after it — the live set. The
    * benchmark calls it between rounds (outside every operation's window),
    * so `heap_peak_mb` is the highest live heap seen at a round boundary.
    */
  def fullGc(): Unit = {
    val t0 = System.nanoTime()
    System.gc()
    explicitGcMs += (System.nanoTime() - t0) / 1000000L
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > heapPeak) heapPeak = used
  }

  def heapPeakMb: Double = heapPeak / (1024.0 * 1024.0)

  def record(op: Op): Unit = { ops += op; attempted += 1 }

  /** One operation per trigger of a finished streaming query that consumed
    * input, read from the query's own progress log.
    */
  def recordTriggers(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      record(Op("trigger", start, start + p.batchDuration, p.numInputRows))
    }

  def timedOps: Seq[Op] = ops.toSeq

  def itemsPerS: Double = {
    val s = (timedEndMs - timedStartMs) / 1000.0
    if (s <= 0) 0.0 else ops.map(_.items).sum / s
  }

  /** Bytes on disk under the given roots. */
  def bytesUnder(dirs: Seq[String]): Long = dirs.map { d =>
    val p = java.nio.file.Paths.get(d)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }.sum

  /** The end-to-end metrics every workload reports; `storeItems` is the
    * number of items the stores hold at run end.
    */
  def endToEnd(storeBytes: Long, storeItems: Long): Seq[(String, Metric)] = {
    val lat = ops.map(_.ms).toSeq
    Seq(
      "setup_s" -> Metric(setupS, "s"),
      "items_per_s" -> Metric(itemsPerS, "1/s"),
      "op_p50_ms" -> Metric(Stats.quantile(lat, 0.5), "ms"),
      "store_bytes_per_item" -> Metric(storeBytes.toDouble / math.max(1L, storeItems), "B/item"),
      "heap_peak_mb" -> Metric(heapPeakMb, "MB"))
  }

  /** Time a call made by the benchmark into the program: a span when traced. */
  def call[T](name: String)(f: => T): T = tracer match {
    case None => f
    case Some(t) => t.span(name)(f)
  }
}

object Ctx {
  // one fixed offset so every timestamp is monotonic yet comparable with
  // the epoch-millisecond times Spark puts on its listener events
  val nanoToEpochMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  def procStat(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(
        _.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty)
      finally src.close()
    } catch { case _: Exception => Array.empty }

  def loadAvg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: Exception => "n/a" }
}

object Stats {
  /** Linear-interpolated quantile (the definition numpy uses by default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
