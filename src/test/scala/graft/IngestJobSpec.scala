package graft

import java.nio.file.{Files, Path}
import graft.streaming.{IngestJob, IngestMetricsListener}

/** End-to-end streaming smoke for the §3.1 pipeline, mirroring the
  * reference's Lambda fixtures (txn `test-789`,
  * `reference/src/scripts/test-lambda.ts:8-52`) including the
  * response-before-request case the reference silently drops
  * (SURVEY §2.9 R3 / §7.4 — we merge it correctly as a deliberate
  * deviation).
  */
class IngestJobSpec extends SparkTestBase {

  private def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private def writeJson(dir: Path, name: String, json: String): Unit =
    Files.writeString(dir.resolve(name), json)

  // blobs carry `url` and NO s3 keys, exactly like the middleware's output
  // (audit.middleware.ts:44-56) — the keys are derived from the object key
  private def request(txn: String, ts: String): String =
    s"""{"transactionId":"$txn","appId":"test-app","url":"/api/users",
       |"workflowId":"registration","action":"create","timestamp":"$ts"}"""
      .stripMargin.replaceAll("\n", "")

  private def response(txn: String, status: Int): String =
    s"""{"transactionId":"$txn","statusCode":$status}""".stripMargin.replaceAll("\n", "")

  test("ingest merges request+response on transaction_id, both arrival orders") {
    val in = tmpDir("graft-in")
    val store = tmpDir("graft-store").resolve("audit").toString
    val cp = tmpDir("graft-cp").toString

    val listener = new IngestMetricsListener
    spark.streams.addListener(listener)
    try {
      // batch 1: normal order for test-789; EARLY response for txn-early
      writeJson(in, "b1-test-789-request.json", request("test-789", "2025-01-26T10:00:00Z"))
      writeJson(in, "b1-txn-early-response.json", response("txn-early", 503))
      val q1 = IngestJob.run(spark, in.toString, store, cp, maxFilesPerTrigger = 10)
      q1.awaitTermination()

      val afterB1 = spark.read.parquet(store)
      assert(afterB1.count() === 2)
      val early = afterB1.filter("transaction_id = 'txn-early'").collect().head
      assert(early.getAs[Integer]("status_code") === 503,
        "early response must be kept pending, not dropped (deviation from reference R3)")
      assert(early.getAs[String]("endpoint") === null)

      // batch 2: the response for test-789 and the LATE request for txn-early
      writeJson(in, "b2-test-789-response.json", response("test-789", 200))
      writeJson(in, "b2-txn-early-request.json", request("txn-early", "2025-01-26T09:59:00Z"))
      val q2 = IngestJob.run(spark, in.toString, store, cp, maxFilesPerTrigger = 10)
      q2.awaitTermination()

      val rows = spark.read.parquet(store)
      assert(rows.count() === 2)
      val done = rows.filter("transaction_id = 'test-789'").collect().head
      assert(done.getAs[Integer]("status_code") === 200)
      assert(done.getAs[String]("app_id") === "test-app")
      assert(done.getAs[String]("endpoint") === "/api/users",
        "endpoint must come from the blob's url field (processQueue.ts:119)")
      // s3 keys are the source object key, not blob fields (processQueue.ts:122,127)
      assert(done.getAs[String]("request_s3_key").endsWith("b1-test-789-request.json"))
      assert(done.getAs[String]("response_s3_key").endsWith("b2-test-789-response.json"))
      // partition-column type inference reads dt back as DATE
      assert(done.getAs[AnyRef]("dt").toString === "2025-01-26")

      val merged = rows.filter("transaction_id = 'txn-early'").collect().head
      assert(merged.getAs[Integer]("status_code") === 503)
      assert(merged.getAs[String]("endpoint") === "/api/users",
        "late request must complete the pending response row")

      // R6: observed metrics reached the listener (CloudWatch analog)
      val batches = listener.batches
      assert(batches.map(_.requestsProcessed).sum === 2)
      assert(batches.map(_.responsesProcessed).sum === 2)
      assert(batches.map(_.failedRecords).sum === 0)
    } finally spark.streams.removeListener(listener)
  }

  test("transaction ids containing 'request' still classify by file name") {
    val in = tmpDir("graft-in3")
    val store = tmpDir("graft-store3").resolve("audit").toString
    writeJson(in, "request-retry-1-request.json", request("request-retry-1", "2025-01-26T10:00:00Z"))
    writeJson(in, "request-retry-1-response.json", response("request-retry-1", 200))
    val q = IngestJob.run(spark, in.toString, store, tmpDir("graft-cp3").toString)
    q.awaitTermination()
    val row = spark.read.parquet(store).collect().head
    assert(row.getAs[Integer]("status_code") === 200,
      "response for a txn id containing 'request' must not be misrouted")
    assert(row.getAs[String]("app_id") === "test-app")
  }

  test("store survives a crash between swap renames (.bak recovery)") {
    val store = tmpDir("graft-store4").resolve("audit").toString
    import org.apache.spark.sql.functions.lit
    val b1 = spark.read.schema(IngestJob.rawSchema)
      .json(spark.createDataset(Seq(request("txn-a", "2025-01-26T10:00:00Z")))(
        org.apache.spark.sql.Encoders.STRING))
      .withColumn("srcKey", lit("a-request.json"))
    IngestJob.processBatch(spark, b1, store)
    // simulate the crash window: primary renamed away, promotion not done
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(store), new org.apache.hadoop.fs.Path(store + ".bak"))
    assert(IngestJob.readStore(spark, store).count() === 1,
      "readStore must fall back to the .bak generation")
    // epoch replay after the crash must restore the full store
    IngestJob.processBatch(spark, b1, store)
    assert(spark.read.parquet(store).count() === 1)
  }

  test("a bak-only partition untouched by the next batch is healed, not destroyed") {
    import org.apache.spark.sql.functions.lit
    def batchOf(json: String, name: String) =
      spark.read.schema(IngestJob.rawSchema)
        .json(spark.createDataset(Seq(json))(org.apache.spark.sql.Encoders.STRING))
        .withColumn("srcKey", lit(name))
    val store = tmpDir("graft-heal").resolve("audit").toString
    IngestJob.processBatch(spark,
      batchOf(request("txn-day1", "2025-01-25T08:00:00Z"), "d1-request.json"), store)
    // crash window of an UNREPLAYED swap (e.g. compaction): dt=2025-01-25
    // rotated into .bak, promotion never happened — .bak holds the ONLY copy
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(store + ".bak"))
    fs.rename(
      new org.apache.hadoop.fs.Path(s"$store/dt=2025-01-25"),
      new org.apache.hadoop.fs.Path(s"$store.bak/dt=2025-01-25"))
    // next batch touches a DIFFERENT partition; its end-of-swap cleanup
    // must not delete the foreign bak-only partition's last copy
    IngestJob.processBatch(spark,
      batchOf(request("txn-day2", "2025-01-26T09:00:00Z"), "d2-request.json"), store)
    val rows = spark.read.parquet(store)
    assert(rows.count() === 2,
      "bak-only partition was destroyed by an unrelated batch's cleanup")
    assert(rows.where("transaction_id = 'txn-day1'").count() === 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store.bak/dt=2025-01-25")),
      "healed partition must have been promoted back into the primary")
  }

  test("malformed and keyless envelopes are quarantined, not stored (R5 dead-letter)") {
    val in = tmpDir("graft-dlq-in")
    val store = tmpDir("graft-dlq-store").resolve("audit").toString
    val dlq = tmpDir("graft-dlq-q").resolve("dlq").toString
    writeJson(in, "good-request.json", request("txn-ok", "2025-01-26T10:00:00Z"))
    writeJson(in, "broken-request.json", """{"transactionId": "txn-broken", BOOM""")
    writeJson(in, "keyless-response.json", """{"statusCode":500}""")
    val listener = new IngestMetricsListener
    spark.streams.addListener(listener)
    val cp = tmpDir("graft-dlq-cp").toString
    try {
      val q = IngestJob.run(spark, in.toString, store, cp, quarantineDir = dlq)
      q.awaitTermination()
      val stored = spark.read.parquet(store)
      assert(stored.count() === 1, "only the valid envelope may reach the store")
      assert(stored.collect().head.getAs[String]("transaction_id") === "txn-ok")
      val dead = spark.read.parquet(dlq).collect()
      assert(dead.length === 2)
      val byReason = dead.map(r =>
        r.getAs[String]("reason") -> r.getAs[String]("src_key")).toMap
      assert(byReason("malformed_json").endsWith("broken-request.json"))
      assert(byReason("missing_transaction_id").endsWith("keyless-response.json"))
      assert(dead.forall(_.getAs[String]("payload") != null))
      assert(listener.batches.map(_.failedRecords).sum === 2,
        "dead-lettered records must still be counted")
      // the reference's processed counters are SUCCESS counters: a record
      // whose processRecord throws never reaches the batch push
      // (processQueue.ts:42-66) — dead letters must not double-count here
      assert(listener.batches.map(_.requestsProcessed).sum === 1,
        "corrupt request.json must count as failed only")
      assert(listener.batches.map(_.responsesProcessed).sum === 0,
        "keyless response must count as failed only")

      // epoch replay (crash after DLQ write, before checkpoint commit):
      // drop the commit marker so batch 0 re-runs — the dead letters must
      // overwrite their epoch partition, not append duplicates
      val fs = new org.apache.hadoop.fs.Path(cp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$cp/commits/0"), false)
      val q2 = IngestJob.run(spark, in.toString, store, cp, quarantineDir = dlq)
      q2.awaitTermination()
      assert(spark.read.parquet(dlq).count() === 2,
        "replayed epoch must not duplicate dead letters")
      assert(spark.read.parquet(store).count() === 1)
    } finally spark.streams.removeListener(listener)
  }

  test("partition-scoped merge leaves untouched dt partitions' files unmodified") {
    import org.apache.spark.sql.functions.lit
    def batchOf(json: String, name: String) =
      spark.read.schema(IngestJob.rawSchema)
        .json(spark.createDataset(Seq(json))(org.apache.spark.sql.Encoders.STRING))
        .withColumn("srcKey", lit(name))
    val store = tmpDir("graft-pscope").resolve("audit").toString
    IngestJob.processBatch(spark,
      batchOf(request("txn-day1", "2025-01-25T08:00:00Z"), "d1-request.json"), store)
    IngestJob.processBatch(spark,
      batchOf(request("txn-day2", "2025-01-26T09:00:00Z"), "d2-request.json"), store)

    def partFiles(dt: String): Map[String, Long] = {
      val dir = new java.io.File(s"$store/dt=$dt")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val day1Before = partFiles("2025-01-25")
    assert(day1Before.nonEmpty)

    // third batch only touches day2's transaction — day1's files must not move
    IngestJob.processBatch(spark,
      batchOf(response("txn-day2", 200), "d2-response.json"), store)
    assert(partFiles("2025-01-25") === day1Before,
      "untouched partition was rewritten — merge is not partition-scoped")
    val day2 = spark.read.parquet(store).where("transaction_id = 'txn-day2'").collect().head
    assert(day2.getAs[Integer]("status_code") === 200)
    assert(spark.read.parquet(store).count() === 2)
  }

  test("compaction collapses accumulated small files, preserves data, skips small partitions") {
    import org.apache.spark.sql.functions.lit
    def batchOf(json: String, name: String) =
      spark.read.schema(IngestJob.rawSchema)
        .json(spark.createDataset(Seq(json))(org.apache.spark.sql.Encoders.STRING))
        .withColumn("srcKey", lit(name))
    val store = tmpDir("graft-compact").resolve("audit").toString
    // 6 batches into the same dt partition, one lone batch into another;
    // the merge rewrites each touched dt as one file
    for (i <- 1 to 6)
      IngestJob.processBatch(spark,
        batchOf(request(s"txn-$i", "2025-01-26T10:00:00Z"), s"r$i-request.json"), store)
    IngestJob.processBatch(spark,
      batchOf(request("txn-other", "2025-01-27T09:00:00Z"), "o-request.json"), store)
    // so fragment dt=2025-01-26 explicitly: two more store-schema files
    // appended into its directory, as an older per-task layout or an
    // append from outside the merge would leave them
    for (i <- 1 to 2) {
      val row = org.apache.spark.sql.Row(s"txn-x$i", "test-app", "/api/users",
        "registration", "create", 200,
        java.sql.Timestamp.from(java.time.Instant.parse(s"2025-01-26T11:0$i:00Z")),
        s"x$i-request.json", s"x$i-response.json")
      spark.createDataFrame(java.util.List.of(row), IngestJob.storeSchema)
        .write.mode("append").parquet(s"$store/dt=2025-01-26")
    }

    def nFiles(dt: String): Int = new java.io.File(s"$store/dt=$dt")
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(nFiles("2025-01-26") > 2, "fixture must start fragmented")
    val before = spark.read.parquet(store).collect().map(_.toString).sorted

    val touched = IngestJob.compactStore(spark, store, minFiles = 2)
    assert(touched === Seq("2025-01-26"), s"only the fragmented partition compacts: $touched")
    assert(nFiles("2025-01-26") === 1)
    assert(spark.read.parquet(store).collect().map(_.toString).sorted === before,
      "compaction must be a pure layout change")
  }

  /** One batch of envelopes, each JSON tagged with its file name, spread
    * over several input partitions like a multi-file trigger.
    */
  private def envelopes(named: Seq[(String, String)]) = {
    val tagged = named.map { case (json, name) =>
      json.stripSuffix("}") + s""","srcKey":"$name"}""" }
    spark.read.schema(IngestJob.rawSchema.add("srcKey", "string"))
      .json(spark.createDataset(tagged)(org.apache.spark.sql.Encoders.STRING).repartition(3))
  }

  private def dataFiles(store: String, dt: String): Int =
    new java.io.File(s"$store/dt=$dt").listFiles().count(_.getName.endsWith(".parquet"))

  test("the merge rewrites each touched dt partition as exactly one file") {
    val store = tmpDir("graft-layout").resolve("audit").toString
    val days = Seq("2025-01-21", "2025-01-22", "2025-01-23")
    def requests(ids: Range) = for (d <- days; i <- ids)
      yield request(s"txn-$d-$i", s"${d}T10:0$i:00Z") -> s"$d-$i-request.json"
    IngestJob.processBatch(spark,
      envelopes(requests(1 to 4) :+ (response("txn-early", 503) -> "early-response.json")),
      store)
    // the second batch adds keys to every day that already holds rows,
    // completes one of them, and lands a second pending response
    IngestJob.processBatch(spark, envelopes(requests(5 to 8) ++ Seq(
      response("txn-2025-01-21-1", 200) -> "r1-response.json",
      response("txn-late", 500) -> "late-response.json")), store)
    for (dt <- days :+ IngestJob.PendingDt)
      assert(dataFiles(store, dt) === 1, s"dt=$dt holds more than one file")
    val rows = IngestJob.readStore(spark, store)
    assert(rows.count() === 26)
    assert(rows.where("transaction_id = 'txn-2025-01-21-1'").head()
      .getAs[Integer]("status_code") === 200)
  }

  test("readStore: the root read and the .bak recovery read return the same rows") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val store = tmpDir("graft-readstore").resolve("audit").toString
    IngestJob.processBatch(spark, envelopes(Seq(
      request("txn-a", "2025-01-21T10:00:00Z") -> "a-request.json",
      request("txn-b", "2025-01-22T10:00:00Z") -> "b-request.json",
      response("txn-b", 200) -> "b-response.json",
      response("txn-early", 503) -> "early-response.json")), store)
    // the rows, and the paths the read lists
    def rows() = {
      val df = IngestJob.readStore(spark, store)
      (df.collect().map(_.toString).sorted.toSeq,
        df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
          .flatMap { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) })
    }
    val (fast, fastRoots) = rows()
    assert(fast.size === 3)
    assert(fast.exists(_.startsWith("[txn-early,")), "pending row missing")
    assert(fastRoots.size === 1 && fastRoots.head.endsWith("/audit"),
      s"no partition is bak-only: the store must be one root read, got $fastRoots")

    // crash window of a swap: two partitions, pending among them, live
    // only under <store>.bak
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(store + ".bak"))
    for (dt <- Seq("2025-01-22", IngestJob.PendingDt))
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$store/dt=$dt"),
        new org.apache.hadoop.fs.Path(s"$store.bak/dt=$dt")))
    val (recovered, recoveredRoots) = rows()
    assert(recoveredRoots.count(_.contains("/audit.bak/")) === 2,
      s"bak-only partitions must be read from <store>.bak: $recoveredRoots")
    assert(recovered === fast)
  }

  test("a restarted drain runs no file-listing job: every job carries its batch id") {
    val in = tmpDir("graft-in-listing")
    val store = tmpDir("graft-store-listing").resolve("audit").toString
    val cp = tmpDir("graft-cp-listing").toString
    // 40 files per trigger: above the 32 paths at which Spark's default
    // lists a read's paths through a job
    def land(from: Int): Unit = (from until from + 40).foreach { i =>
      writeJson(in, f"t$i%03d-request.json", request(f"t$i%03d", "2025-01-26T10:00:00Z"))
    }
    land(0)
    IngestJob.run(spark, in.toString, store, cp).awaitTermination()
    land(40)
    // the second run restarts over the committed first batch
    val jobs = jobsDuring(IngestJob.run(spark, in.toString, store, cp).awaitTermination())
    assert(jobs.nonEmpty)
    assert(!jobs.exists(_.description.startsWith("Listing leaf files")),
      s"the drain ran a file-listing job: $jobs")
    assert(jobs.forall(_.batchId.isDefined), s"a drain job carries no batch id: $jobs")
    assert(IngestJob.readStore(spark, store).count() === 80)
  }

  test("batch replay is idempotent (exactly-once per epoch)") {
    val in = tmpDir("graft-in2")
    val store = tmpDir("graft-store2").resolve("audit").toString
    writeJson(in, "r.json", request("txn-r", "2025-01-26T10:00:00Z"))
    // same batch content merged twice against the store must not duplicate
    val batch = spark.read.schema(IngestJob.rawSchema).json(in.toString)
      .withColumn("srcKey", org.apache.spark.sql.functions.lit("r-request.json"))
    IngestJob.processBatch(spark, batch, store)
    IngestJob.processBatch(spark, batch, store)
    assert(spark.read.parquet(store).count() === 1)
  }
}
