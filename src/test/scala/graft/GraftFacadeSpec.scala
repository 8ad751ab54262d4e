package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Sinks
import graft.streaming.IngestJob

/** The user-facing surface: SQL views, the audit search engine over an
  * ingested store, and the blob-layout sinks.
  */
class GraftFacadeSpec extends SparkTestBase {
  import spark.implicits._

  test("registerViews exposes every fixture table to spark.sql") {
    Graft.registerViews(spark, sfDir)
    val n = spark.sql(
      "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .collect().head.getLong(0)
    assert(n > 0)
    assert(spark.sql("SELECT count(*) FROM documents").collect().head.getLong(0) === 500)
  }

  test("AuditEngine: search + details over a store written by the ingest merge") {
    val store = Files.createTempDirectory("graft-facade").resolve("audit").toString
    // srcKey doubles as the stored s3 key (derived, like the reference's
    // object-key routing — processQueue.ts:122,127)
    val batch = Seq(
      ("t1", "app-a", "/u", "wf", "create", null.asInstanceOf[Integer],
        "2025-01-26T10:00:00Z", "k/t1/request.json"),
      ("t1", null, null, null, null, Integer.valueOf(200),
        null, "k/t1/response.json"),
      ("t2", "app-b", "/v", "wf", "create", null.asInstanceOf[Integer],
        "2025-01-26T11:00:00Z", "k/t2/request.json"))
      .toDF("transactionId", "appId", "endpoint", "workflowId", "action",
        "statusCode", "timestamp", "srcKey")
    IngestJob.processBatch(spark, batch, store)

    val engine = AuditEngine(spark, store)
    assert(engine.searchCount(Map.empty) === 2)
    assert(engine.searchCount(Map("app_id" -> "app-a")) === 1)
    val merged = engine.search(Map("transaction_id" -> "t1")).collect().head
    assert(merged.getAs[Integer]("status_code") === 200)
    assert(merged.getAs[String]("app_id") === "app-a")

    val typed = engine.typed.collect().sortBy(_.transaction_id)
    assert(typed.length === 2)
    assert(typed.head === AuditRecord("t1", Some("app-a"), Some("/u"), Some("wf"),
      Some("create"), Some(200), typed.head.timestamp, Some("k/t1/request.json"),
      Some("k/t1/response.json")))
    assert(typed(1).status_code === None, "pending request row keeps null status")

    val payloads = Seq(("k/t1/request.json", """{"body":"hello"}"""))
      .toDF("s3_key", "payload")
    val detailed = engine.searchWithDetails(Map("transaction_id" -> "t1"), payloads)
    val row = detailed.collect().head
    assert(row.getAs[String]("request_data") === """{"body":"hello"}""")
    assert(row.getAs[String]("response_data") === null) // null-guarded, like the reference
  }

  test("AuditEngine reads a day caught mid-swap from <store>.bak") {
    val store = Files.createTempDirectory("graft-facade-bak").resolve("audit").toString
    val batch = Seq(
      ("t1", "app-a", "/u", "wf", "create", null.asInstanceOf[Integer],
        "2026-01-01T10:00:00Z", "k/t1/request.json"),
      ("t2", "app-a", "/u", "wf", "create", null.asInstanceOf[Integer],
        "2026-01-02T10:00:00Z", "k/t2/request.json"))
      .toDF("transactionId", "appId", "endpoint", "workflowId", "action",
        "statusCode", "timestamp", "srcKey")
    IngestJob.processBatch(spark, batch, store)
    // the swap's rotate-before-promote window: the day's only copy sits
    // under <store>.bak, its primary directory is gone
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(store + ".bak"))
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$store/dt=2026-01-02"),
      new org.apache.hadoop.fs.Path(s"$store.bak/dt=2026-01-02")))

    val engine = AuditEngine(spark, store)
    assert(engine.search(Map.empty).collect().map(_.getAs[String]("transaction_id"))
      .toSeq === Seq("t2", "t1"), "search missed the day being swapped")
    assert(engine.searchCount(Map.empty) === 2)
  }

  test("a search over a store older than a month runs one job and returns the newest 100 rows") {
    val store = Files.createTempDirectory("graft-facade-40d").resolve("audit").toString
    // 40 days, 5 requests a day, one same-instant pair a day: the tie
    // falls to transaction_id
    val start = java.time.LocalDate.parse("2026-01-01")
    val batch = (for (d <- 0 until 40; i <- 0 until 5) yield {
      val hour = 10 + math.min(i, 3)
      (f"t$d%02d-$i", "app-a", "/u", "wf", "create", null.asInstanceOf[Integer],
        f"${start.plusDays(d.toLong)}T$hour%02d:00:00Z", f"k/t$d%02d-$i/request.json")
    }).toDF("transactionId", "appId", "endpoint", "workflowId", "action",
      "statusCode", "timestamp", "srcKey")
    IngestJob.processBatch(spark, batch, store)
    val want = IngestJob.readStore(spark, store).collect().toSeq
      .sortBy(r => (-r.getAs[java.sql.Timestamp]("timestamp").getTime,
        r.getAs[String]("transaction_id")))(
        Ordering.Tuple2(Ordering.Long, Ordering.String.reverse))
      .take(100)
    assert(want.map(_.getAs[java.sql.Timestamp]("timestamp").getTime / 86400000L)
      .distinct.size === 20)

    val engine = AuditEngine(spark, store)
    var got: Seq[org.apache.spark.sql.Row] = Nil
    val jobs = jobsDuring { got = engine.search(Map.empty).collect().toSeq }
    assert(jobs.size === 1, s"a 40-day search must run one job: $jobs")
    assert(got === want)
  }

  test("blob cache: per-key payload hits skip the store; misses fetch once and warm it") {
    val store = Files.createTempDirectory("graft-blob").resolve("audit").toString
    val batch = Seq(
      ("b1", "app-a", "/u", "wf", "create", null.asInstanceOf[Integer],
        "2025-01-26T10:00:00Z", "k/b1/request.json"),
      ("b1", null, null, null, null, Integer.valueOf(200), null, "k/b1/response.json"))
      .toDF("transactionId", "appId", "endpoint", "workflowId", "action",
        "statusCode", "timestamp", "srcKey")
    IngestJob.processBatch(spark, batch, store)
    val engine = AuditEngine(spark, store)

    val payloads = Seq(
      ("k/b1/request.json", """{"body":"req"}"""),
      ("k/b1/response.json", """{"body":"resp"}"""))
      .toDF("s3_key", "payload")
    var clock = 0L
    val blobs = new BlobCache(ttlMs = 1000L, now = () => clock)

    val first = engine.searchWithDetailsCached(Map("transaction_id" -> "b1"), payloads, blobs)
      .collect().head
    assert(first.getAs[String]("request_data") === """{"body":"req"}""")
    assert(first.getAs[String]("response_data") === """{"body":"resp"}""")
    assert(blobs.size === 2, "both fetched blobs must be cached under their keys")

    // a warm cache never touches the payload table — poison it to prove it
    val poisoned = Seq(("k/b1/request.json", "WRONG")).toDF("s3_key", "payload")
    val second = engine.searchWithDetailsCached(Map("transaction_id" -> "b1"), poisoned, blobs)
      .collect().head
    assert(second.getAs[String]("request_data") === """{"body":"req"}""",
      "warm keys must serve from the blob cache, not the table")

    // expiry: entries age out, the next call re-fetches from the table
    clock = 2000L
    val third = engine.searchWithDetailsCached(Map("transaction_id" -> "b1"), payloads, blobs)
      .collect().head
    assert(third.getAs[String]("response_data") === """{"body":"resp"}""")

    // a key with no payload row yields null details, like the bare-record
    // fallback of the reference (audit.services.ts:234-236)
    val none = engine.searchWithDetailsCached(Map("transaction_id" -> "b1"),
      payloads.filter(col("s3_key") =!= "k/b1/response.json"), new BlobCache())
      .collect().head
    assert(none.getAs[String]("request_data") === """{"body":"req"}""")
    assert(none.getAs[String]("response_data") === null)
  }

  test("blob cache bounds entries by evicting the earliest-expiring first") {
    var clock = 0L
    val blobs = new BlobCache(ttlMs = 100000L, maxEntries = 3, now = () => clock)
    (1 to 5).foreach { i => clock = i * 10L; blobs.put(s"k$i", s"v$i") }
    assert(blobs.size === 3)
    assert(blobs.get("k1").isEmpty && blobs.get("k2").isEmpty,
      "oldest entries must be evicted")
    assert(blobs.get("k5").contains("v5"))
  }

  test("result cache: TTL serve-from-cache, expiry recompute, write invalidation") {
    val store = Files.createTempDirectory("graft-cache").resolve("audit").toString
    val batch = Seq(("c1", "app-a", "/u", "wf", "create", null.asInstanceOf[Integer],
        "2025-01-26T10:00:00Z", "k/c1/request.json"))
      .toDF("transactionId", "appId", "endpoint", "workflowId", "action",
        "statusCode", "timestamp", "srcKey")
    IngestJob.processBatch(spark, batch, store)
    val engine = AuditEngine(spark, store)

    var clock = 0L
    val cache = new ResultCache(ttlMs = 1000L, now = () => clock)
    val first = engine.searchCached(cache, Map("app_id" -> "app-a"))
    assert(first.count() === 1)
    assert(cache.contains(cache.keyOf(Map("app_id" -> "app-a"), 100)))
    // same filters, different map order → same key → SAME cached frame
    var second: org.apache.spark.sql.DataFrame = null
    val hitJobs = jobsDuring {
      second = engine.searchCached(cache, Map("app_id" -> "app-a"))
      second.collect()
    }
    assert(second eq first, "fresh key must serve the cached DataFrame")
    assert(hitJobs.isEmpty, s"a hit is served from driver rows and runs no Spark job: $hitJobs")

    clock = 2000L // TTL passed → recompute, new entry
    val third = engine.searchCached(cache, Map("app_id" -> "app-a"))
    assert(!(third eq first))

    cache.invalidateAll() // the write-path invalidation
    assert(cache.size === 0)
    assert(engine.searchCached(cache, Map("app_id" -> "app-a")).count() === 1)
  }

  test("cache keys escape join characters and expired entries are swept") {
    var clock = 0L
    val cache = new ResultCache(ttlMs = 1000L, now = () => clock)
    // distinct filter maps that would collide under naive k=v&k=v joining
    assert(cache.keyOf(Map("a" -> "1&b=2"), 100) !== cache.keyOf(Map("a" -> "1", "b" -> "2"), 100))
    assert(cache.keyOf(Map("a" -> "x#5"), 100) !== cache.keyOf(Map("a" -> "x"), 5))
    // order-insensitive over map ordering
    assert(cache.keyOf(Map("a" -> 1, "b" -> 2), 10) === cache.keyOf(Map("b" -> 2, "a" -> 1), 10))
    // an expired entry is removed (blocks released) without being re-asked-for
    import spark.implicits._
    cache.getOrCompute("k1")(Seq(1).toDF("x"))
    assert(cache.size === 1)
    clock = 2000L
    cache.getOrCompute("k2")(Seq(2).toDF("x"))
    assert(cache.size === 1, "sweep must drop the expired k1 when any call runs")
    assert(!cache.contains("k1"))
  }

  test("result cache: a slow miss blocks neither other keys nor the write-path invalidation; a straddled compute is not cached") {
    // r16's whole-call lock executed the product walk's jobs under the
    // cache lock, so a slow cached search could stall the ingest loop's
    // trigger at writeEpoch's invalidation hook — the miss is now
    // single-flight PER KEY, and an invalidation that lands mid-compute
    // keeps the (possibly pre-write) result out of the cache
    val cache = new ResultCache(ttlMs = 100000L)
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val slowDf = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame]()
    val t = new Thread(() => slowDf.set(cache.getOrCompute("slow") {
      started.countDown(); release.await(); Seq(1).toDF("x")
    }))
    t.setDaemon(true); t.start(); started.await()
    // a different key misses and completes while "slow" is in flight
    assert(cache.getOrCompute("fast")(Seq(2).toDF("x")).count() === 1)
    // the write path invalidates WITHOUT blocking behind the slow miss
    cache.invalidateAll()
    assert(cache.size === 0)
    release.countDown(); t.join(30000)
    assert(!t.isAlive, "the slow miss must complete")
    assert(slowDf.get().count() === 1, "the straddled caller still gets its result")
    assert(!cache.contains("slow"),
      "a compute that straddled an invalidation must not be cached")
    // clean-era miss caches normally again
    cache.getOrCompute("slow")(Seq(3).toDF("x"))
    assert(cache.contains("slow"))
  }

  test("result cache: concurrent identical misses are single-flight per key") {
    val cache = new ResultCache(ttlMs = 100000L)
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    def compute = {
      computes.incrementAndGet(); started.countDown(); release.await()
      Seq(1).toDF("x")
    }
    val got = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame]()
    val a = new Thread(() => got.set(cache.getOrCompute("k")(compute)))
    a.setDaemon(true); a.start(); started.await()
    // the second identical miss must WAIT for the first, not recompute
    val b = new Thread(() => cache.getOrCompute("k")(compute))
    b.setDaemon(true); b.start()
    Thread.sleep(200) // give b time to (wrongly) start a second compute
    release.countDown()
    a.join(30000); b.join(30000)
    assert(!a.isAlive && !b.isAlive)
    assert(computes.get() === 1,
      s"identical concurrent misses must share ONE compute, ran ${computes.get()}")
    assert(cache.contains("k"))
  }

  test("ingest with an invalidate hook drops stale cached search results") {
    val in = Files.createTempDirectory("graft-inv-in")
    val store = Files.createTempDirectory("graft-inv").resolve("audit").toString
    def envelope(txn: String): String =
      s"""{"transactionId":"$txn","appId":"app-a","url":"/u","workflowId":"wf","action":"create","timestamp":"2025-01-26T10:00:00Z"}"""
    Files.writeString(in.resolve("t1-request.json"), envelope("t1"))
    val cp = Files.createTempDirectory("graft-inv-cp").toString
    IngestJob.run(spark, in.toString, store, cp).awaitTermination()

    val engine = AuditEngine(spark, store)
    val cache = new ResultCache()
    assert(engine.searchCached(cache, Map("app_id" -> "app-a")).count() === 1)

    // second batch lands WITH the cache wired in — the post-commit hook
    // must bring the entry up to date, so the next cached search sees the
    // new row
    Files.writeString(in.resolve("t2-request.json"), envelope("t2"))
    IngestJob.run(spark, in.toString, store, cp, invalidate = cache).awaitTermination()
    assert(cache.contains(cache.keyOf(Map("app_id" -> "app-a"), 100)),
      "the commit must bring the cached answer up to date, not drop it")
    var served = Seq.empty[org.apache.spark.sql.Row]
    val jobs = jobsDuring {
      served = engine.searchCached(cache, Map("app_id" -> "app-a")).collect().toSeq
    }
    assert(jobs.isEmpty, s"serving the maintained answer must run no Spark job: $jobs")
    assert(served === engine.search(Map("app_id" -> "app-a")).collect().toSeq)
    assert(engine.searchCached(cache, Map("app_id" -> "app-a")).count() === 2,
      "post-ingest cached search must serve fresh rows")
  }

  test("ingest with a blob invalidate hook drops per-blob cache entries") {
    val in = Files.createTempDirectory("graft-binv-in")
    val store = Files.createTempDirectory("graft-binv").resolve("audit").toString
    def envelope(txn: String): String =
      s"""{"transactionId":"$txn","appId":"app-a","url":"/u","workflowId":"wf","action":"create","timestamp":"2025-01-26T10:00:00Z"}"""
    Files.writeString(in.resolve("t1-request.json"), envelope("t1"))
    val cp = Files.createTempDirectory("graft-binv-cp").toString
    IngestJob.run(spark, in.toString, store, cp).awaitTermination()

    val engine = AuditEngine(spark, store)
    val blobs = new BlobCache()
    val k = engine.search(Map("transaction_id" -> "t1")).collect().head
      .getAs[String]("request_s3_key")
    val payloads = Seq((k, """{"v":1}""")).toDF("s3_key", "payload")
    val first = engine.searchWithDetailsCached(Map("transaction_id" -> "t1"), payloads, blobs)
      .collect().head
    assert(first.getAs[String]("request_data") === """{"v":1}""")
    assert(blobs.size === 1, "fetched blob must warm the cache")

    // a late batch lands WITH the blob hook wired — the post-commit hook
    // clears the per-blob entries, so the next details call consults the
    // (since-updated) payload table instead of the pre-ingest blob view
    Files.writeString(in.resolve("t2-request.json"), envelope("t2"))
    IngestJob.run(spark, in.toString, store, cp, invalidateBlobs = blobs).awaitTermination()
    assert(blobs.size === 0, "committed batch must clear the blob cache")
    val updated = Seq((k, """{"v":2}""")).toDF("s3_key", "payload")
    val second = engine.searchWithDetailsCached(Map("transaction_id" -> "t1"), updated, blobs)
      .collect().head
    assert(second.getAs[String]("request_data") === """{"v":2}""",
      "post-ingest details must re-fetch, not serve the pre-ingest blob")
  }

  test("partitioned JSON sink lays out dt partitions; append sink accumulates") {
    val out = Files.createTempDirectory("graft-sink")
    val df = Seq(("a", "2025-01-26 10:00:00"), ("b", "2025-01-27 10:00:00"))
      .toDF("id", "ts").withColumn("ts", to_timestamp(col("ts")))
    Sinks.writePartitionedJson(df, "ts", out.resolve("json").toString)
    val dirs = new java.io.File(out.resolve("json").toString).list().filter(_.startsWith("dt="))
    assert(dirs.toSet === Set("dt=2025-01-26", "dt=2025-01-27"))
    val back = spark.read.json(out.resolve("json").toString)
    assert(back.count() === 2)

    Sinks.appendRecords(df.drop("ts"), out.resolve("pq").toString)
    Sinks.appendRecords(df.drop("ts"), out.resolve("pq").toString)
    assert(spark.read.parquet(out.resolve("pq").toString).count() === 4)
  }
}
