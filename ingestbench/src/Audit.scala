package ingestbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.{AuditEngine, BlobCache, ResultCache}
import graft.streaming.{IngestJob, IngestMetricsListener}

/** One store row as the benchmark models it: the null-skipping max of every
  * envelope of its transaction, `endpoint` from the request's `url`, the S3
  * keys set to the envelope paths, `dt` the request date or `pending`.
  */
final case class Rec(app: Option[String], endpoint: Option[String], workflow: Option[String],
                     action: Option[String], status: Option[Int], tsMs: Option[Long],
                     reqKey: Option[String], respKey: Option[String]) {
  def merge(o: Rec): Rec = {
    def mx[T: Ordering](a: Option[T], b: Option[T]): Option[T] = (a ++ b).maxOption
    Rec(mx(app, o.app), mx(endpoint, o.endpoint), mx(workflow, o.workflow), mx(action, o.action),
      mx(status, o.status), mx(tsMs, o.tsMs), mx(reqKey, o.reqKey), mx(respKey, o.respKey))
  }
  def dt: String = tsMs.fold(IngestJob.PendingDt)(AuditGen.day)
  def field(name: String): Option[Any] = name match {
    case "app_id" => app
    case "endpoint" => endpoint
    case "workflow_id" => workflow
    case "action" => action
    case "status_code" => status
  }
}

/** A store row as read back, with the `dt` partition it sits in. */
final case class StoreRow(tx: String, rec: Rec, dt: String)

/** One answered search, with the model state it must match. */
final case class Answer(filters: Map[String, Any], details: Boolean, hit: Boolean,
                        rows: Seq[Row], model: Map[String, Rec])

/** An envelope as landed: a request or response blob, or a planted bad one
  * (`dead` = the reason the dead-letter store must give).
  */
final case class Env(name: String, txid: String, json: String, rec: Rec, dead: Option[String])

/** Seeded envelope generator. The store's history spans `Days` days; the
  * newest day already holds a day of traffic. New transactions land on the
  * newest day, later than every stored one.
  */
final class AuditGen(seed: Long) {
  import AuditGen._
  private val rng = new scala.util.Random(seed * 31L + 7L)
  private var nextTx = 0L
  private var clockMs = dayStart(Days - 1) + 12L * 3600 * 1000 // newest day, noon
  private var badCount = 0

  private def pick[T](xs: IndexedSeq[T]): T = {
    // skewed: low indexes are more popular (min of two uniforms)
    xs(math.min(rng.nextInt(xs.size), rng.nextInt(xs.size)))
  }
  def newTx(): String = { nextTx += 1; f"tx$seed%03d-$nextTx%08d" }

  def request(tx: String, tsMs: Long, key: String): Env = {
    val (app, url, wf, act) = (pick(Apps), pick(Endpoints), pick(Workflows), pick(Actions))
    val json = s"""{"transactionId":"$tx","appId":"$app","url":"$url","workflowId":"$wf",""" +
      s""""action":"$act","timestamp":"${iso(tsMs)}"}"""
    Env(key, tx, json, Rec(Some(app), Some(url), Some(wf), Some(act), None, Some(tsMs), Some(key), None), None)
  }

  def response(tx: String, key: String): Env = {
    val code = pick(Codes)
    Env(key, tx, s"""{"transactionId":"$tx","statusCode":$code}""",
      Rec(None, None, None, None, Some(code), None, None, Some(key)), None)
  }

  private def bad(name: String): Env = {
    badCount += 1
    if (badCount % 2 == 1)
      Env(name, "", s"""{"transactionId":"txbad-$badCount","appId":""", Rec(None, None, None, None, None, None, None, None),
        Some("malformed_json"))
    else
      Env(name, "", s"""{"appId":"app-00","url":"/api/v1/orders","timestamp":"${iso(clockMs)}"}""",
        Rec(None, None, None, None, None, None, None, None), Some("missing_transaction_id"))
  }

  /** The base store's envelopes: `perDay` transactions on each of `Days`
    * days, keyed by S3-style paths; a few stay response-less, a few
    * request-less (pending).
    */
  def base(perDay: Int): Seq[Env] = (0 until Days).flatMap { d =>
    val start = dayStart(d)
    (0 until perDay).flatMap { i =>
      val tx = newTx()
      val ts = start + (i.toLong * 12 * 3600 * 1000 / perDay) + rng.nextInt(1000)
      val k = s"s3://audit-blobs/audit/${day(ts)}/$tx"
      rng.nextInt(200) match {
        case 0 => Seq(request(tx, ts, s"$k/request.json"))
        case 1 => Seq(response(tx, s"$k/response.json"))
        case _ => Seq(request(tx, ts, s"$k/request.json"), response(tx, s"$k/response.json"))
      }
    }
  }

  private def tick(): Long = { clockMs += 200 + rng.nextInt(600); clockMs }

  /** One round of `triggers` triggers, exactly `PerTrigger` files each. Per
    * trigger: responses that arrive one trigger before their request,
    * requests whose response lands one trigger later, retried duplicate
    * responses, late requests for older days, one malformed or keyless
    * envelope, and complete request+response pairs for the rest. The last
    * trigger of a round holds one response whose request never comes.
    * `name(tx, kind)` gives each envelope's file name.
    */
  def round(triggers: Int, name: (String, String) => String): Seq[Seq[Env]] = {
    val out = Array.fill(triggers)(ArrayBuffer[Env]())
    val done = ArrayBuffer[String]()
    for (t <- 0 until triggers) {
      val b = out(t)
      if (t + 1 < triggers) {
        (0 until 2).foreach { _ => // response first, request one trigger later
          val tx = newTx()
          b += response(tx, name(tx, "response.json"))
          out(t + 1) += request(tx, tick(), name(tx, "request.json"))
        }
        (0 until 3).foreach { _ => // request now, response one trigger later
          val tx = newTx()
          b += request(tx, tick(), name(tx, "request.json"))
          out(t + 1) += response(tx, name(tx, "response.json"))
        }
      }
      (0 until 2).foreach { _ => // a late request for an older day, with its response
        val tx = newTx()
        val d = rng.nextInt(Days - 1)
        b += request(tx, dayStart(d) + 13L * 3600 * 1000 + rng.nextInt(3600 * 1000), name(tx, "request.json"))
        b += response(tx, name(tx, "response.json"))
      }
      b += bad(name(s"bad-$seed-$badCount", "request.json"))
      if (t == triggers - 1) { val tx = newTx(); b += response(tx, name(tx, "response.json")) }
      // complete pairs fill the trigger; retries of earlier responses ride along
      while (b.size < PerTrigger - 2) {
        if (done.size > 4 && rng.nextInt(25) == 0) {
          val tx = done(rng.nextInt(done.size))
          b += response(tx, name(tx, s"response-retry${rng.nextInt(1000000)}.json"))
        } else {
          val tx = newTx()
          b += request(tx, tick(), name(tx, "request.json"))
          b += response(tx, name(tx, "response.json"))
          done += tx
        }
      }
      while (b.size < PerTrigger) { // request-only transactions top up an odd count
        val tx = newTx()
        b += request(tx, tick(), name(tx, "request.json"))
      }
      require(b.size == PerTrigger, s"trigger holds ${b.size} envelopes")
    }
    out.map(_.toSeq).toSeq
  }
}

object AuditGen {
  val Days = 21
  val PerTrigger = 100 // IngestJob.run's default maxFilesPerTrigger, the Lambda batch cap
  val Apps: IndexedSeq[String] = (0 until 8).map(i => f"app-$i%02d")
  val Endpoints: IndexedSeq[String] = IndexedSeq("orders", "users", "payments", "search", "auth",
    "refunds", "invoices", "reports", "files", "webhooks", "audit", "health").map(e => s"/api/v1/$e")
  val Workflows: IndexedSeq[String] = IndexedSeq("checkout", "signup", "kyc", "billing", "support", "sync")
  val Actions: IndexedSeq[String] = IndexedSeq("create", "read", "update", "delete", "list")
  val Codes: IndexedSeq[Int] = IndexedSeq(200, 201, 204, 400, 404, 500)
  val Epoch0: Long = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
  def dayStart(d: Int): Long = Epoch0 + d * 86400000L
  def day(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString.take(10)
  def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString

  def model(envs: Iterable[Env], into: Map[String, Rec] = Map.empty): Map[String, Rec] =
    envs.foldLeft(into) { (m, e) =>
      if (e.dead.nonEmpty) m
      else m.updated(e.txid, m.get(e.txid).fold(e.rec)(_.merge(e.rec)))
    }

  /** The route's answer over a model: equality filters, newest first
    * (timestamp desc, nulls last, then id desc), first `limit`.
    */
  def topK(m: Map[String, Rec], filters: Map[String, Any], limit: Int = 100): Seq[(String, Rec)] = {
    val hits = m.iterator.filter { case (_, r) => filters.forall { case (k, v) => r.field(k).contains(v) } }
    hits.toSeq.sortBy { case (tx, r) => (r.tsMs.fold(Long.MaxValue)(t => -t), tx) }(
      Ordering.Tuple2(Ordering.Long, Ordering.String.reverse)).take(limit)
  }
}

/** Shared by the audit workloads: the base store built by
  * `IngestJob.processBatch`, envelope landing, and store/DLQ checks.
  */
abstract class AuditBase(ctx: Ctx, perDay: Int) extends Workload {
  protected val spark = ctx.spark
  protected val gen = new AuditGen(ctx.args.seed)
  protected val storeDir = s"${ctx.root}/audit_store"
  protected val dlqDir = s"$storeDir.dlq"
  protected val inbox = s"${ctx.root}/audit_inbox"
  protected val checkpoint = s"${ctx.root}/audit_checkpoint"
  protected var model: Map[String, Rec] = Map.empty
  protected val landed = ArrayBuffer[Env]()
  protected val listener = new IngestMetricsListener()
  protected var triggersRun = 0
  private var landedFiles = 0

  def endToEnd(): Seq[(String, Metric)] =
    ctx.endToEnd(ctx.bytesUnder(Seq(storeDir, dlqDir)), model.size.toLong)

  /** The path a landed file gets in the store's S3-key columns. */
  protected def keyOf(f: File): String = new org.apache.hadoop.fs.Path(f.toURI).toString

  protected def fileName(tx: String, kind: String): String = {
    val n = landedFiles; landedFiles += 1
    keyOf(new File(inbox, f"$n%07d-$tx.$kind"))
  }

  protected def buildBase(): Seq[Env] = {
    new File(inbox).mkdirs()
    spark.streams.addListener(listener)
    val envs = gen.base(perDay)
    model = AuditGen.model(envs)
    val rows = envs.map { e =>
      val r = e.rec
      Row(e.txid, r.app.orNull, r.endpoint.orNull, null, r.workflow.orNull, r.action.orNull,
        r.tsMs.map(AuditGen.iso).orNull, r.status.map(Int.box).orNull, null, e.name)
    }
    import scala.jdk.CollectionConverters._
    val schema = IngestJob.rawSchema.add("srcKey", StringType)
    ctx.call("IngestJob.processBatch") {
      IngestJob.processBatch(spark, spark.createDataFrame(rows.asJava, schema), storeDir)
    }
    envs
  }

  /** Write envelope files, mtimes strictly increasing in landing order so
    * the file source takes them `PerTrigger` at a time in exactly this order.
    */
  protected def land(triggers: Seq[Seq[Env]]): Unit = {
    val t0 = System.currentTimeMillis()
    triggers.flatten.zipWithIndex.foreach { case (e, i) =>
      val f = new File(new java.net.URI(e.name))
      Files.write(f.toPath, e.json.getBytes(UTF_8))
      f.setLastModified(t0 + i * 10L)
    }
    landed ++= triggers.flatten
    model = AuditGen.model(triggers.flatten, model)
  }

  /** Drain the landed backlog closed-loop: AvailableNow, each trigger
    * starting after the previous one committed.
    */
  protected def drain(cache: ResultCache = null, blobs: BlobCache = null): StreamingQuery =
    ctx.call("IngestJob.run") {
      val q = IngestJob.run(spark, inbox, storeDir, checkpoint, invalidate = cache, invalidateBlobs = blobs)
      q.awaitTermination()
      triggersRun += q.recentProgress.count(_.numInputRows > 0)
      q
    }

  // -- checks ---------------------------------------------------------

  protected def readStoreRows(): Seq[StoreRow] = {
    val byFile = IngestJob.readStore(spark, storeDir)
      .select(col("*"), col("_metadata.file_path").as("path")).collect()
    byFile.map { r =>
      def s(n: String) = Option(r.getAs[String](n))
      StoreRow(r.getAs[String]("transaction_id"),
        Rec(s("app_id"), s("endpoint"), s("workflow_id"), s("action"),
          Option(r.getAs[Any]("status_code")).map(_.asInstanceOf[Int]),
          Option(r.getAs[java.sql.Timestamp]("timestamp")).map(_.getTime),
          s("request_s3_key"), s("response_s3_key")),
        "dt=([^/]+)".r.findFirstMatchIn(r.getAs[String]("path")).map(_.group(1)).getOrElse("?"))
    }.toSeq
  }

  protected def checkStore(rows: Seq[StoreRow], m: Map[String, Rec]): Seq[String] = {
    val errs = ArrayBuffer[String]()
    val dupes = rows.groupBy(_.tx).filter(_._2.size > 1).keys
    if (dupes.nonEmpty) errs += s"${dupes.size} transaction ids appear more than once (e.g. ${dupes.take(3)})"
    val got = rows.map(r => r.tx -> r).toMap
    val missing = m.keySet -- got.keySet
    val extra = got.keySet -- m.keySet
    if (missing.nonEmpty) errs += s"${missing.size} modelled transactions missing from the store (e.g. ${missing.take(3)})"
    if (extra.nonEmpty) errs += s"${extra.size} store rows the model does not have (e.g. ${extra.take(3)})"
    val wrong = m.collect { case (tx, r) if got.get(tx).exists(_.rec != r) => tx }
    if (wrong.nonEmpty) {
      val tx = wrong.head
      errs += s"${wrong.size} store rows differ from the model, e.g. $tx: store ${got(tx).rec} model ${m(tx)}"
    }
    val badDt = m.collect { case (tx, r) if got.get(tx).exists(_.dt != r.dt) => tx }
    if (badDt.nonEmpty) errs += s"${badDt.size} rows sit in the wrong dt partition (e.g. ${badDt.head})"
    if (!m.values.exists(_.dt == IngestJob.PendingDt)) errs += "no pending row was planted: the dt check would be vacuous"
    errs.toSeq
  }

  protected def readDeadLetters(): Seq[(String, String)] =
    if (!new File(dlqDir).exists()) Seq.empty
    else spark.read.parquet(dlqDir).select("src_key", "reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq

  protected def checkDeadLetters(got: Seq[(String, String)]): Seq[String] = {
    val want = landed.filter(_.dead.nonEmpty).map(e => e.name -> e.dead.get).toSeq
    if (want.isEmpty) Seq("no bad envelope was landed: the dead-letter check would be vacuous")
    else if (got.sorted != want.sorted)
      Seq(s"dead-letter store holds ${got.size} rows, want ${want.size} " +
        s"(extra ${got.diff(want).take(2)}, missing ${want.diff(got).take(2)})")
    else Seq.empty
  }

  /** requests + responses + failed, summed over every trigger the listener saw. */
  protected def counted(): Long = {
    val deadline = System.currentTimeMillis() + 15000
    while (listener.batches.size < triggersRun && System.currentTimeMillis() < deadline) Thread.sleep(50)
    listener.batches.map(b => b.requestsProcessed + b.responsesProcessed + b.failedRecords).sum
  }

  protected def checkCounters(n: Long): Seq[String] =
    if (n != landed.size) Seq(s"ingest counters add up to $n, but ${landed.size} envelopes landed")
    else Seq.empty
}

/** `audit_ingest`: closed-loop drains of request/response envelope files,
  * `PerTrigger` per trigger, into a multi-week store built in set-up.
  */
final class AuditIngest(ctx: Ctx) extends AuditBase(ctx, AuditIngest.PerDay) {
  import AuditIngest._

  private def round(): Unit = land(gen.round(TriggersPerRound, fileName))

  def setup(): Unit = {
    buildBase()
    (0 until WarmupRounds).foreach { _ => round(); drain() }
  }

  def timed(): Unit =
    while (ctx.timeLeft) {
      round()
      ctx.recordTriggers(drain())
      ctx.fullGc()
    }

  private lazy val storeRows = readStoreRows()
  private lazy val deadLetters = readDeadLetters()
  private lazy val counterSum = counted()

  def check(): Seq[String] =
    checkStore(storeRows, model) ++ checkDeadLetters(deadLetters) ++ checkCounters(counterSum)

  def selfTest(): Seq[String] = {
    val rows = storeRows
    val i = rows.indexWhere(_.rec.status.nonEmpty)
    val r = rows(i)
    val corruptions = Seq(
      "a store row dropped" -> checkStore(rows.patch(i, Nil, 1), model),
      "a duplicate store row" -> checkStore(rows :+ r, model),
      "a status code changed" -> checkStore(rows.updated(i, r.copy(rec = r.rec.copy(status = r.rec.status.map(_ + 1)))), model),
      "a row in the wrong dt" -> checkStore(rows.updated(i, r.copy(dt = "2000-01-01")), model),
      "a dead letter lost" -> checkDeadLetters(deadLetters.tail),
      "a dead letter with the wrong reason" -> checkDeadLetters(
        deadLetters.updated(0, deadLetters.head._1 -> "other")),
      "a counter off by one" -> checkCounters(counterSum + 1))
    corruptions.collect { case (what, errs) if errs.isEmpty => s"check passed on corrupted output: $what" }
  }
}

object AuditIngest {
  val PerDay = 1000
  val TriggersPerRound = 4
  val WarmupRounds = 2
}

/** `audit_search`: one client issues seeded, skewed searches through
  * `AuditEngine.searchCached` (a quarter through `searchWithDetailsCached`),
  * with a one-trigger drain after every round of searches whose
  * `invalidate` hooks are the search and blob caches.
  */
final class AuditSearch(ctx: Ctx) extends AuditBase(ctx, AuditSearch.PerDay) {
  import AuditSearch._
  private val engine = AuditEngine(spark, storeDir)
  private val payloadDir = s"${ctx.root}/payloads"
  // TTLs far beyond any run: hits never depend on wall time
  private val cache = new ResultCache(ttlMs = 3600L * 1000)
  private val blobs = new BlobCache(ttlMs = 3600L * 1000)
  private var payloadMap = Map.empty[String, String]

  val answers = ArrayBuffer[Answer]()

  private val pool: IndexedSeq[Map[String, Any]] = {
    val r = new scala.util.Random(ctx.args.seed * 13L + 5L)
    def pick[T](xs: IndexedSeq[T]): T = xs(math.min(r.nextInt(xs.size), r.nextInt(xs.size)))
    val keys = IndexedSeq("app_id", "endpoint", "workflow_id", "action", "status_code")
    (0 until PoolSize).map { _ =>
      val n = r.nextInt(20) match { case 0 => 0; case k if k < 10 => 1; case k if k < 17 => 2; case _ => 3 }
      r.shuffle(keys).take(n).map {
        case k @ "app_id" => k -> pick(AuditGen.Apps)
        case k @ "endpoint" => k -> pick(AuditGen.Endpoints)
        case k @ "workflow_id" => k -> pick(AuditGen.Workflows)
        case k @ "action" => k -> pick(AuditGen.Actions)
        case k => k -> pick(AuditGen.Codes)
      }.toMap[String, Any]
    }
  }
  private val zipf: Array[Double] = {
    val w = (1 to PoolSize).map(i => 1.0 / i)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val draw = new scala.util.Random(ctx.args.seed * 17L + 3L)
  private def nextFilters(): Map[String, Any] = {
    val u = draw.nextDouble()
    pool(zipf.indexWhere(_ >= u) max 0)
  }

  private def payloadTable: DataFrame = spark.read.parquet(payloadDir)

  private def addPayloads(envs: Seq[Env]): Unit = {
    import spark.implicits._
    envs.map(e => (e.name, e.json)).toDF("s3_key", "payload").write.mode("append").parquet(payloadDir)
    payloadMap ++= envs.map(e => e.name -> e.json)
  }

  private def drainOnce(): Unit = {
    val t = gen.round(1, fileName)
    addPayloads(t.flatten)
    land(t)
    drain(cache, blobs)
  }

  private var blobHits, blobAsks = 0L
  override def blobHitRatio: Double = if (blobAsks == 0) 0.0 else blobHits.toDouble / blobAsks

  /** One round's searches, in a seeded order: `AskedTwice` + `AskedOnce`
    * distinct popular filter sets through the result cache (the second ask
    * of a set is a hit) and `DetailsPerRound` detail searches. Every round
    * thus holds the same number of hits, misses and detail searches, with
    * the hits as few as the detail searches, so the median search falls
    * among the misses rather than on the edge between two kinds.
    */
  private def roundPlan(): Seq[(Map[String, Any], Boolean)] = {
    val sets = ArrayBuffer[Map[String, Any]]()
    while (sets.size < AskedTwice + AskedOnce) { val f = nextFilters(); if (!sets.contains(f)) sets += f }
    val asks = sets ++ sets.take(AskedTwice)
    draw.shuffle(asks.map(_ -> false) ++ Seq.fill(DetailsPerRound)(nextFilters() -> true)).toSeq
  }

  private def searchRound(record: Boolean): Unit = {
    roundPlan().foreach { case (f, details) => search(f, details, record) }
    drainOnce()
  }

  private def search(f: Map[String, Any], details: Boolean, record: Boolean): Unit = {
    val hit = !details && cache.contains(cache.keyOf(f, 100))
    if (details && record && ctx.tracer.nonEmpty) { // which of the answer's blobs are cached already
      val keys = AuditGen.topK(model, f).flatMap { case (_, r) => r.reqKey ++ r.respKey }
      blobAsks += keys.size
      blobHits += keys.count(k => blobs.get(k).nonEmpty)
    }
    val t0 = ctx.nowMs
    val rows =
      if (details) ctx.call("AuditEngine.searchWithDetailsCached") {
        engine.searchWithDetailsCached(f, payloadTable, blobs).collect().toSeq
      } else ctx.call("AuditEngine.searchCached") {
        engine.searchCached(cache, f).collect().toSeq
      }
    val t1 = ctx.nowMs
    if (record) {
      ctx.record(Op(if (details) "details" else if (hit) "hit" else "miss", t0, t1, 1, rows.size.toLong))
      answers += Answer(f, details, hit, rows, model)
    }
  }

  def setup(): Unit = {
    addPayloads(buildBase())
    (0 until WarmupRounds).foreach(_ => searchRound(record = false))
  }

  def timed(): Unit =
    while (ctx.timeLeft) {
      searchRound(record = true)
      ctx.fullGc()
    }

  def expected(a: Answer): Seq[Seq[Any]] =
    AuditGen.topK(a.model, a.filters).map { case (tx, r) =>
      val base = Seq(tx, r.app.orNull, r.endpoint.orNull, r.workflow.orNull, r.action.orNull,
        r.status.map(Int.box).orNull, r.tsMs.map(Long.box).orNull, r.reqKey.orNull, r.respKey.orNull)
      if (a.details) base ++ Seq(r.reqKey.flatMap(payloadMap.get).orNull, r.respKey.flatMap(payloadMap.get).orNull)
      else base
    }

  private def asSeq(r: Row): Seq[Any] = r.toSeq.map {
    case t: java.sql.Timestamp => t.getTime
    case v => v
  }

  /** Indexes of answers whose rows differ from the model's top-100. */
  def wrongAnswers(as: Seq[Answer]): Seq[Int] =
    as.indices.filter(i => as(i).rows.map(asSeq) != expected(as(i)))

  private lazy val storeRows = readStoreRows()
  private lazy val deadLetters = readDeadLetters()

  def check(): Seq[String] = {
    val wrong = wrongAnswers(answers.toSeq)
    ctx.failed = wrong.size.toLong
    wrong.headOption.toSeq.map { i =>
      val a = answers(i)
      s"${wrong.size} of ${answers.size} answers differ from the model; first: filters ${a.filters} " +
        s"details=${a.details} hit=${a.hit} got ${a.rows.size} rows, e.g. ${a.rows.headOption.map(asSeq)}; " +
        s"want ${expected(a).size}, e.g. ${expected(a).headOption}"
    } ++ (if (!answers.exists(_.rows.size == 100)) Seq("no answer hit the 100-row cap: the check is too weak") else Nil) ++
      (if (!answers.exists(_.hit)) Seq("no cache hit was checked") else Nil) ++
      checkStore(storeRows, model) ++ checkDeadLetters(deadLetters)
  }

  def selfTest(): Seq[String] = {
    val as = answers.toSeq
    val i = as.indexWhere(a => a.rows.size >= 2 && a.details)
    val h = as.indexWhere(a => a.rows.size >= 2 && a.hit)
    def swapped(a: Answer) = a.copy(rows = a.rows.updated(0, a.rows(1)).updated(1, a.rows(0)))
    def payloadChanged(a: Answer) =
      a.copy(rows = a.rows.updated(0, Row.fromSeq(a.rows(0).toSeq.updated(9, "{}"))))
    val corruptions = Seq(
      "two rows of a search swapped" -> wrongAnswers(as.updated(i, swapped(as(i)))),
      "a cache hit's rows swapped" -> wrongAnswers(as.updated(h, swapped(as(h)))),
      "a search row dropped" -> wrongAnswers(as.updated(i, as(i).copy(rows = as(i).rows.tail))),
      "a request payload changed" -> wrongAnswers(as.updated(i, payloadChanged(as(i)))),
      "a store row dropped" -> checkStore(storeRows.tail, model).map(_.size),
      "a dead letter lost" -> checkDeadLetters(deadLetters.tail).map(_.size))
    corruptions.collect { case (what, bad) if bad.isEmpty => s"check passed on corrupted output: $what" }
  }
}

object AuditSearch {
  val PerDay = 600
  val PoolSize = 48
  val AskedTwice = 4
  val AskedOnce = 4
  val DetailsPerRound = 4
  val WarmupRounds = 2
}
