package ingestbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One finished Spark job: its window (epoch ms), `IngestStages` label (the
  * job description, when it is one), call site, and the task metrics of
  * its stages.
  */
final case class JobRec(id: Int, startMs: Double, endMs: Double, label: Option[String],
                        callShort: String, callLong: String, execId: Option[Long], plan: String,
                        batchId: Option[String],
                        tasks: Long, bytesRead: Long, rowsRead: Long, bytesWritten: Long,
                        rowsWritten: Long, shuffleBytes: Long)

/** One streaming trigger as its progress event reports it. */
final case class TriggerRec(startMs: Double, durations: Map[String, Long], rows: Long,
                            observed: Map[String, Long]) {
  def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  def d(k: String): Long = durations.getOrElse(k, 0L)
}

/** The traced mode: listeners on the Spark scheduler, the SQL executions
  * and the streaming queries, plus spans around every call the benchmark
  * makes into the program. Everything is kept in memory; [[writeSpans]]
  * writes it out at the end, and [[perLayer]] derives the per-layer metrics.
  * Jobs belong to the operation whose time window holds their start.
  */
final class Tracer(spark: SparkSession, ctx: Ctx) {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobTaskMetrics = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val triggers = new ConcurrentLinkedQueue[TriggerRec]()
  final case class Call(name: String, startMs: Double, endMs: Double)
  private val calls = new ConcurrentLinkedQueue[Call]()
  // SQL write/scan statistics: accumulator id -> metric name, and the
  // values the driver posts per execution
  private val accNames = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val execStats = new java.util.concurrent.ConcurrentHashMap[Long, mutable.Map[String, Long]]()
  // execution id -> (short, long) call site of the Dataset action that
  // started it: jobs an execution submits from pool threads carry no
  // useful stack of their own
  private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]()
  // execution id -> what its physical plan does, for the IngestJob steps
  // (inside a micro-batch every execution has the stream's call site)
  private val execPlans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private def planKind(plan: String): String =
    if (plan.contains("InsertIntoHadoopFsRelationCommand"))
      if (plan.contains(".dlq")) "dlq_write" else if (plan.contains(".tmp")) "rewrite" else "write"
    else if (plan.contains("CollectLimit 1")) "probe"
    else "read"
  private val wanted = Set("number of written files", "number of dynamic part", "number of files read")

  private def collectAccs(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => if (wanted(m.name)) accNames.put(m.accumulatorId, m.name))
    p.children.foreach(collectAccs)
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stageJob.get(i.stageId)).foreach { j =>
        val m = i.taskMetrics
        val add = if (m == null) Array(i.numTasks.toLong, 0L, 0L, 0L, 0L, 0L)
          else Array(i.numTasks.toLong, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten)
        jobTaskMetrics.merge(j, add, (a, b) => a.zip(b).map { case (x, y) => x + y })
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { s =>
        val props = Option(s.properties)
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        val result = if (s.stageInfos.isEmpty) None else Some(s.stageInfos.maxBy(_.stageId))
        val m = Option(jobTaskMetrics.remove(e.jobId)).getOrElse(Array.fill(6)(0L))
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        val (short, long) = exec.flatMap(x => Option(execSites.get(x)))
          .getOrElse((result.map(_.name).getOrElse(""), result.map(_.details).getOrElse("")))
        jobs.add(JobRec(e.jobId, s.time.toDouble, e.time.toDouble,
          desc.filter(_.matches("[a-z_]+:[a-z0-9_]+")), short, long, exec,
          exec.flatMap(x => Option(execPlans.get(x))).getOrElse("read"),
          props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))),
          m(0), m(1), m(2), m(3), m(4), m(5)))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSites.put(s.executionId, (s.description, s.details))
        execPlans.put(s.executionId, planKind(s.physicalPlanDescription))
        collectAccs(s.sparkPlanInfo)
      case a: SparkListenerSQLAdaptiveExecutionUpdate => collectAccs(a.sparkPlanInfo)
      case u: SparkListenerDriverAccumUpdates =>
        u.accumUpdates.foreach { case (id, v) =>
          Option(accNames.get(id)).foreach { n =>
            execStats.computeIfAbsent(u.executionId, _ => mutable.Map.empty[String, Long]).synchronized {
              val st = execStats.get(u.executionId)
              st(n) = st.getOrElse(n, 0L) + v
            }
          }
        }
      case _ => ()
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val observed = p.observedMetrics.asScala.values.flatMap { r =>
          r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).collect { case (f, v: Long) => f -> v }
        }.toMap
        triggers.add(TriggerRec(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows, observed))
      }
    }
  })

  def span[T](name: String)(f: => T): T = {
    val t0 = ctx.nowMs
    try f finally calls.add(Call(name, t0, ctx.nowMs))
  }

  // -- JVM counters over the timed phase ------------------------------

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private var gc0, jit0, gc1, jit1 = 0L
  def timedStarted(): Unit = { gc0 = gcMs; jit0 = jitMs }
  def timedEnded(): Unit = { gc1 = gcMs; jit1 = jitMs }

  // -- derivation ------------------------------------------------------

  /** Wait for the asynchronous listener bus to deliver every event. */
  private def drainBus(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (!jobStart.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    Thread.sleep(500)
  }

  private lazy val allJobs: Seq[JobRec] = { drainBus(); jobs.asScala.toSeq.sortBy(_.startMs) }

  private def jobsIn(s: Double, e: Double): Seq[JobRec] =
    allJobs.filter(j => j.startMs >= s - 1 && j.startMs <= e + 1)

  private def timedTriggers: Seq[TriggerRec] =
    triggers.asScala.toSeq.filter(t => t.startMs >= ctx.timedStartMs && t.startMs < ctx.timedEndMs)

  /** Milliseconds of [s, e] that some job covers. */
  private def covered(js: Seq[JobRec], s: Double, e: Double): Double = {
    var total = 0.0; var cur = s
    js.map(j => (math.max(j.startMs, s), math.min(j.endMs, e))).filter(x => x._2 > x._1).sortBy(_._1)
      .foreach { case (a, b) => if (b > cur) { total += b - math.max(a, cur); cur = b } }
    total
  }

  private def span(js: Seq[JobRec]): Double =
    if (js.isEmpty) 0.0 else js.map(_.endMs).max - js.map(_.startMs).min

  private def stat(js: Seq[JobRec], n: String): Long =
    js.flatMap(_.execId).distinct.map(x => Option(execStats.get(x)).flatMap(_.get(n)).getOrElse(0L)).sum

  private def med(xs: Seq[Double]): Double = Stats.median(xs)

  private def isIngestJob(j: JobRec) = j.callLong.contains("graft.streaming.IngestJob")
  // IngestJob's steps by what each execution's plan does: the partition
  // rewrite into `<store>.tmp`, the dead-letter write and its emptiness
  // probe, and the reads in between (key collect, locate scan, dt lists)
  private def isRewrite(j: JobRec) = isIngestJob(j) && j.plan == "rewrite"
  private def isDlq(j: JobRec) = isIngestJob(j) && (j.plan == "dlq_write" || j.plan == "probe")
  private def isLocate(j: JobRec) = isIngestJob(j) && j.plan == "read"

  /** Every label the program's `IngestStages` sets, as one metric prefix each. */
  val labels: Seq[String] = Seq(
    "pipeline:curate", "pipeline:text_models", "pipeline:embeddings",
    "curate:monotone_gate", "curate:stage_prefix", "curate:doc_index", "curate:fp_append",
    "docidx:df_bootstrap", "docidx:lsh_probe", "docidx:pairs_append", "docidx:graph_fold",
    "docidx:corpus_append", "docidx:lsh_append", "docidx:bm25_postings", "docidx:bm25_stats",
    "docidx:positions_append", "docidx:prefix_append",
    "graph:degrees", "graph:merge_log",
    "tmodel:dsir", "tmodel:tagger", "tmodel:lm_c1", "tmodel:lm_c2",
    "embidx:train_centroids", "embidx:train_codebooks", "embidx:write_cents", "embidx:write_books",
    "embidx:write_meta", "embidx:vectors_append", "embidx:codes_append",
    "compact:doc_index", "compact:curate", "compact:text_models", "compact:embeddings")

  private val families: Map[String, String => Boolean] = Map(
    "pipeline:curate" -> (l => l == "pipeline:curate" || Seq("curate:", "docidx:", "graph:").exists(l.startsWith)),
    "pipeline:text_models" -> (l => l == "pipeline:text_models" || l.startsWith("tmodel:")),
    "pipeline:embeddings" -> (l => l == "pipeline:embeddings" || l.startsWith("embidx:")))

  def perLayer(w: Workload): Seq[(String, Metric)] = {
    val trig = timedTriggers
    val tWin = trig.map(t => t -> jobsIn(t.startMs, t.endMs))
    def perTrig(f: (TriggerRec, Seq[JobRec]) => Double): Double = med(tWin.map { case (t, js) => f(t, js) })
    val out = mutable.ArrayBuffer[(String, Metric)]()
    def put(n: String, v: Double, u: String): Unit = out += n -> Metric(v, u)

    // streaming runtime, per trigger
    put("trigger.discover_ms", perTrig((t, _) => (t.d("latestOffset") + t.d("getBatch")).toDouble), "ms")
    put("trigger.body_ms", perTrig((t, _) => t.d("addBatch").toDouble), "ms")
    put("trigger.commit_ms", perTrig((t, _) => (t.d("walCommit") + t.d("commitOffsets")).toDouble), "ms")
    put("trigger.driver_idle_ms", perTrig((t, js) =>
      math.max(0.0, t.d("addBatch") - covered(js, t.startMs, t.endMs))), "ms")
    put("trigger.jobs", perTrig((_, js) => js.size.toDouble), "count")
    put("trigger.tasks", perTrig((_, js) => js.map(_.tasks).sum.toDouble), "count")
    put("trigger.shuffle_bytes", perTrig((_, js) => js.map(_.shuffleBytes).sum.toDouble), "bytes")
    put("trigger.files_written", perTrig((_, js) => stat(js, "number of written files").toDouble), "count")
    put("trigger.bytes_written", perTrig((_, js) => js.map(_.bytesWritten).sum.toDouble), "bytes")

    // IngestJob, by call site
    val ij = tWin.filter(_._2.exists(isIngestJob))
    def perIj(f: (TriggerRec, Seq[JobRec]) => Double) = med(ij.map { case (t, js) => f(t, js) })
    put("ingestjob.locate_ms", perIj((_, js) => covered(js.filter(isLocate), 0, Double.MaxValue)), "ms")
    put("ingestjob.locate_bytes_read", perIj((_, js) => js.filter(isLocate).map(_.bytesRead).sum.toDouble), "bytes")
    put("ingestjob.rewrite_ms", perIj((_, js) => covered(js.filter(isRewrite), 0, Double.MaxValue)), "ms")
    put("ingestjob.partitions_rewritten", perIj((_, js) => stat(js.filter(isRewrite), "number of dynamic part").toDouble), "count")
    put("ingestjob.rows_written_per_record", perIj { (t, js) =>
      val records = t.observed.getOrElse("requests_processed", 0L) + t.observed.getOrElse("responses_processed", 0L)
      js.filter(isRewrite).map(_.rowsWritten).sum.toDouble / math.max(1L, records)
    }, "ratio")
    put("ingestjob.dlq_ms", perIj((_, js) => covered(js.filter(isDlq), 0, Double.MaxValue)), "ms")

    // AuditEngine / Search / caches, per search operation
    val searchOps = ctx.timedOps.filter(o => Set("miss", "hit", "details")(o.kind))
    val sWin = searchOps.map(o => o -> jobsIn(o.startMs, o.endMs))
    val computed = sWin.filter(_._1.kind != "hit")
    def perS(xs: Seq[(Op, Seq[JobRec])])(f: (Op, Seq[JobRec]) => Double) = med(xs.map { case (o, js) => f(o, js) })
    put("search.plan_ms", perS(computed)((o, js) => js.headOption.fold(0.0)(_.startMs - o.startMs)), "ms")
    put("search.exec_ms", perS(computed)((_, js) => span(js)), "ms")
    put("search.jobs", perS(computed)((_, js) => js.size.toDouble), "count")
    put("search.files_read", perS(computed)((_, js) => stat(js, "number of files read").toDouble), "count")
    put("search.bytes_read", perS(computed)((_, js) => js.map(_.bytesRead).sum.toDouble), "bytes")
    put("search.rows_read_per_row_returned", perS(computed) { (o, js) =>
      js.map(_.rowsRead).sum.toDouble / math.max(1L, o.rows) }, "ratio")
    put("search.details_ms", med(searchOps.filter(_.kind == "details").map(_.ms)), "ms")
    val cached = searchOps.filter(_.kind != "details")
    put("cache.hit_ratio", if (cached.isEmpty) 0.0 else cached.count(_.kind == "hit").toDouble / cached.size, "ratio")
    put("cache.hit_ms", med(cached.filter(_.kind == "hit").map(_.ms)), "ms")
    put("cache.miss_ms", med(cached.filter(_.kind == "miss").map(_.ms)), "ms")
    put("blobcache.hit_ratio", w.blobHitRatio, "ratio")

    // PipelineIngest: stage labels, family critical path, folds
    val rebuild = calls.asScala.find(_.name == "PipelineIngest.rebuild").map(c => jobsIn(c.startMs, c.endMs))
    labels.foreach { l =>
      val inTimed = tWin.map(_._2.filter(_.label.contains(l))).filter(_.nonEmpty)
      val where = if (inTimed.nonEmpty) inTimed else rebuild.map(_.filter(_.label.contains(l))).filter(_.nonEmpty).toSeq
      val n = "stage." + l.replace(':', '.')
      put(s"$n.span_ms", med(where.map(span)), "ms")
      put(s"$n.jobs", med(where.map(_.size.toDouble)), "count")
    }
    val pip = tWin.filter(_._2.exists(_.label.exists(_.startsWith("pipeline:"))))
    put("pipeline.critical_family_ms", med(pip.map { case (_, js) =>
      families.values.map(f => span(js.filter(_.label.exists(f)))).max }), "ms")
    put("pipeline.fold_ms", med(pip.map(_._2.filter(_.label.exists(_.startsWith("compact:"))))
      .filter(_.nonEmpty).map(span)), "ms")
    put("pipeline.live_partitions", w.livePartitions.toDouble, "count")

    // JVM
    put("jvm.gc_ms", (gc1 - gc0 - ctx.explicitGcMs).max(0L).toDouble / math.max(1, ctx.timedOps.size), "ms")
    put("jvm.jit_ms", (jit1 - jit0).toDouble, "ms")
    out.toSeq
  }

  /** Every span as one JSON line: operations, jobs (with label, call site
    * and parent operation) and the benchmark's calls into the program.
    */
  def writeSpans(path: String): Unit = {
    val ops = ctx.timedOps.zipWithIndex
    def parent(t: Double): Int = ops.find { case (o, _) => t >= o.startMs - 1 && t <= o.endMs + 1 }.map(_._2).getOrElse(-1)
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      ops.foreach { case (o, i) =>
        w.println(s"""{"kind": "op", "op": $i, "name": ${q(o.kind)}, "start_ms": ${o.startMs}, "end_ms": ${o.endMs}, "items": ${o.items}}""")
      }
      allJobs.foreach { j =>
        val frames = j.callLong.split("\n").map(_.trim).filter(_.startsWith("graft.")).take(3).mkString(" < ")
        w.println(s"""{"kind": "job", "op": ${parent(j.startMs)}, "name": ${q(j.label.getOrElse(""))}, "call_site": ${q(j.callShort)}, "frames": ${q(frames)}, "plan": ${q(j.plan)}, "batch_id": ${j.batchId.fold("null")(q)}, """ +
          s""""start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "tasks": ${j.tasks}, "bytes_read": ${j.bytesRead}, "bytes_written": ${j.bytesWritten}}""")
      }
      calls.asScala.foreach { c =>
        w.println(s"""{"kind": "call", "op": ${parent(c.startMs)}, "name": ${q(c.name)}, "start_ms": ${c.startMs}, "end_ms": ${c.endMs}}""")
      }
    } finally w.close()
  }
}
