package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import graft.streaming.IngestJob

/** Cached audit answers across ingest commits: each commit to the store
  * brings an [[AuditEngine.searchCached]] answer up to date from the
  * commit's merged rows, or drops it when they cannot settle it — and a
  * served answer always equals a fresh [[AuditEngine.search]].
  */
class ResultCacheSpec extends SparkTestBase {

  /** An inbox of envelope files, the store IngestJob.run drains them
    * into, and its checkpoint.
    */
  private final class Inbox(name: String) {
    private val in: Path = Files.createTempDirectory(s"graft-rc-$name-in")
    val store: String = Files.createTempDirectory(s"graft-rc-$name").resolve("audit").toString
    private val cp = Files.createTempDirectory(s"graft-rc-$name-cp").toString
    val engine: AuditEngine = AuditEngine(spark, store)
    private var files = 0
    private var mtime = System.currentTimeMillis() - 3600L * 1000

    private def land(kind: String, json: String): Unit = {
      files += 1; mtime += 10
      // the file name carries no id: ids may hold any character
      val f = in.resolve(f"$files%06d-$kind.json")
      Files.write(f, json.getBytes(UTF_8))
      f.toFile.setLastModified(mtime); ()
    }
    def request(tx: String, app: String, ts: String, action: String = "create"): Unit =
      land("request", s"""{"transactionId":"$tx","appId":"$app","url":"/u",""" +
        s""""workflowId":"wf","action":"$action","timestamp":"$ts"}""")
    def response(tx: String, code: Int): Unit =
      land("response", s"""{"transactionId":"$tx","statusCode":$code}""")
    def drain(cache: ResultCache = null): Unit =
      IngestJob.run(spark, in.toString, store, cp, invalidate = cache).awaitTermination()
  }

  private def ts(minute: Int): String = f"2026-01-02T10:$minute%02d:00Z"

  /** The hit's rows, asserting that serving them ran no Spark job. */
  private def served(cache: ResultCache, engine: AuditEngine,
                     f: Map[String, Any], limit: Int): Seq[Row] = {
    var rows = Seq.empty[Row]
    val jobs = jobsDuring { rows = engine.searchCached(cache, f, limit).collect().toSeq }
    assert(jobs.isEmpty, s"a cache hit must run no Spark job: $jobs")
    rows
  }

  private def ids(rows: Seq[Row]): Seq[String] = rows.map(_.getAs[String]("transaction_id"))

  test("K random drains: every entry that survives a commit equals a fresh search") {
    val box = new Inbox("random")
    val rng = new scala.util.Random(20261021L)
    // ids whose UTF-16 order differs from Spark's UTF-8 byte order
    // (U+FF61 sorts after a surrogate pair in UTF-16, before it in UTF-8),
    // and few distinct instants, so the id tiebreak decides often
    val prefixes = IndexedSeq("a", "｡", "😀")
    val apps = IndexedSeq("app-a", "app-b", "app-c")
    val codes = IndexedSeq(200, 404, 500)
    var next = 0
    def newTx(): String = { next += 1; prefixes(rng.nextInt(3)) + f"$next%04d" }
    val complete, pending, requestOnly = scala.collection.mutable.ArrayBuffer[String]()
    def drainOf(n: Int): Unit = (0 until n).foreach { _ =>
      rng.nextInt(10) match {
        case 0 | 1 | 2 | 3 => // a complete transaction, at any time of the range
          val tx = newTx()
          box.request(tx, apps(rng.nextInt(3)), ts(rng.nextInt(12)))
          box.response(tx, codes(rng.nextInt(3))); complete += tx
        case 4 => // a response whose request comes later: a pending row
          val tx = newTx(); box.response(tx, codes(rng.nextInt(3))); pending += tx
        case 5 if pending.nonEmpty => // a pending row completes
          val tx = pending.remove(rng.nextInt(pending.size))
          box.request(tx, apps(rng.nextInt(3)), ts(rng.nextInt(12))); complete += tx
        case 6 => // a request whose response comes later
          val tx = newTx(); box.request(tx, apps(rng.nextInt(3)), ts(rng.nextInt(12)))
          requestOnly += tx
        case 7 if requestOnly.nonEmpty =>
          val tx = requestOnly.remove(rng.nextInt(requestOnly.size))
          box.response(tx, codes(rng.nextInt(3))); complete += tx
        case 8 if complete.nonEmpty => // a retried response: max may change the code
          box.response(complete(rng.nextInt(complete.size)), codes(rng.nextInt(3)))
        case _ => // a late request, in the oldest minutes
          val tx = newTx(); box.request(tx, apps(rng.nextInt(3)), ts(rng.nextInt(3)))
          box.response(tx, codes(rng.nextInt(3))); complete += tx
      }
    }
    drainOf(40)
    box.drain()
    val asks: Seq[(Map[String, Any], Int)] = for {
      f <- Seq[Map[String, Any]](Map.empty, Map("app_id" -> "app-a"),
        Map("status_code" -> 200), Map("app_id" -> "app-b", "status_code" -> 404),
        Map("action" -> "create"), Map("app_id" -> "app-c"))
      limit <- Seq(3, 8, 100)
    } yield (f, limit)
    val cache = new ResultCache()
    var checked, changed = 0
    for (_ <- 1 to 5) {
      val before = asks.map { case (f, l) => box.engine.searchCached(cache, f, l).collect().toSeq }
      drainOf(15)
      // a retry that turns the newest 200 into a 500: a full 200-answer
      // loses its first row
      box.response(ids(box.engine.search(Map("status_code" -> 200), 1).collect()).head, 500)
      box.drain(cache)
      asks.zip(before).foreach { case ((f, l), was) =>
        if (cache.contains(cache.keyOf(f, l))) {
          val got = served(cache, box.engine, f, l)
          assert(got === box.engine.search(f, l).collect().toSeq,
            s"maintained entry $f limit $l differs from a fresh search")
          checked += 1
          if (got != was) changed += 1
        }
      }
    }
    val c = cache.commitCounts
    assert(c.maintained === checked)
    assert(changed > 10, s"only $changed of $checked maintained entries changed: too weak")
    assert(c.shortOfLimit > 0, "no entry fell short of its limit: the drop path went untested")
    assert(c.noMaintainer + c.otherStore + c.unsupportedFilter === 0)
  }

  test("new rows enter a full answer; a late request below its last row leaves it as it was") {
    val box = new Inbox("top")
    (1 to 3).foreach(i => box.request(s"t$i", "app-a", ts(i)))
    box.drain()
    val cache = new ResultCache()
    val f = Map[String, Any]("app_id" -> "app-a")
    assert(ids(box.engine.searchCached(cache, f, 2).collect()) === Seq("t3", "t2"))

    box.request("t9", "app-a", ts(9))
    box.drain(cache)
    assert(ids(served(cache, box.engine, f, 2)) === Seq("t9", "t3"))

    val frame = box.engine.searchCached(cache, f, 2)
    box.request("t0", "app-a", ts(0)) // ranks below the answer's last row
    box.drain(cache)
    assert(box.engine.searchCached(cache, f, 2) eq frame,
      "an answer the commit did not change keeps its frame")
    assert(served(cache, box.engine, f, 2) === box.engine.search(f, 2).collect().toSeq)
    assert(cache.commitCounts.maintained === 2)
  }

  test("a retried response that stops a row matching a status_code filter") {
    val box = new Inbox("retry")
    Seq("r1", "r2", "r3").zipWithIndex.foreach { case (tx, i) =>
      box.request(tx, "app-a", ts(i + 1)); box.response(tx, 200)
    }
    box.drain()
    val cache = new ResultCache()
    val ok = Map[String, Any]("status_code" -> 200)
    assert(ids(box.engine.searchCached(cache, ok, 2).collect()) === Seq("r3", "r2"))
    assert(ids(box.engine.searchCached(cache, ok, 100).collect()) === Seq("r3", "r2", "r1"))

    box.response("r3", 500) // the null-skipping max makes r3 a 500
    box.drain(cache)
    assert(!cache.contains(cache.keyOf(ok, 2)),
      "a full answer that lost a row cannot know the next stored row: drop")
    assert(ids(served(cache, box.engine, ok, 100)) === Seq("r2", "r1"),
      "a short answer held every match: recompute it from the delta")
    assert(cache.commitCounts === ResultCache.CommitCounts(maintained = 1, shortOfLimit = 1))
  }

  test("a pending row completing inside a short answer moves to its place") {
    val box = new Inbox("pending")
    box.response("p", 200) // pending: no timestamp yet, so it sorts last
    box.request("q", "app-a", ts(5)); box.response("q", 200)
    box.drain()
    val cache = new ResultCache()
    val ok = Map[String, Any]("status_code" -> 200)
    assert(ids(box.engine.searchCached(cache, ok).collect()) === Seq("q", "p"))

    box.request("p", "app-a", ts(7))
    box.drain(cache)
    val got = served(cache, box.engine, ok, 100)
    assert(ids(got) === Seq("p", "q"))
    assert(got === box.engine.search(ok).collect().toSeq)
  }

  test("entries the delta cannot settle are dropped, each counted by its reason") {
    val box = new Inbox("drop")
    val other = new Inbox("drop-other")
    box.request("s1", "app-a", ts(1)); box.response("s1", 200)
    other.request("o1", "app-a", ts(1))
    box.drain(); other.drain()
    val cache = new ResultCache()
    // Spark compares an int column with the string "200" through a cast
    val asString = Map[String, Any]("status_code" -> "200")
    assert(ids(box.engine.searchCached(cache, asString).collect()) === Seq("s1"))
    // the key holds no store: the other store's entry needs its own key
    other.engine.searchCached(cache, Map("app_id" -> "app-a"), 50).collect()
    cache.getOrCompute("plain")(box.engine.search(Map.empty)).collect()
    val kept = Map[String, Any]("app_id" -> "app-a")
    box.engine.searchCached(cache, kept).collect()
    assert(cache.size === 4)

    box.request("s2", "app-a", ts(2)); box.response("s2", 200)
    box.drain(cache)
    assert(!cache.contains(cache.keyOf(asString, 100)))
    assert(!cache.contains("plain"))
    assert(cache.size === 1 && cache.contains(cache.keyOf(kept, 100)))
    assert(cache.commitCounts === ResultCache.CommitCounts(
      maintained = 1, noMaintainer = 1, otherStore = 1, unsupportedFilter = 1))
    assert(ids(served(cache, box.engine, kept, 100)) === Seq("s2", "s1"))
  }

  test("a compute that straddles a commit is served but not cached") {
    val box = new Inbox("straddle")
    box.request("x1", "app-a", ts(1))
    box.drain()
    val cache = new ResultCache()
    val f = Map[String, Any]("app_id" -> "app-a")
    val key = cache.keyOf(f, 100)
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val got = new java.util.concurrent.atomic.AtomicReference[Seq[Row]]()
    val answer = ResultCache.AuditAnswer(IngestJob.storeId(spark, box.store), f, 100)
    val t = new Thread(() => got.set(cache.getOrComputeAnswer(key, answer) {
      // the answer is read before the commit, handed over after it
      val pre = box.engine.search(f)
      val rows = pre.collect().toSeq
      started.countDown(); release.await()
      spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, pre.schema)
    }.collect().toSeq))
    t.setDaemon(true); t.start(); started.await()
    box.request("x2", "app-a", ts(2))
    box.drain(cache)
    release.countDown(); t.join(30000)
    assert(!t.isAlive)
    assert(ids(got.get()) === Seq("x1"), "the straddling caller gets its pre-commit answer")
    assert(!cache.contains(key), "a compute that straddled a commit must not be cached")
    assert(ids(box.engine.searchCached(cache, f).collect()) === Seq("x2", "x1"))
  }
}
