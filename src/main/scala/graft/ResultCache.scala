package graft

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Session-scoped TTL result cache — the Spark-native analog of the
  * reference's Redis search cache: search results are cached under a
  * filter-derived key (`reference/src/services/audit.services.ts:94,169`)
  * with a 300-second expiry (`CACHE_EXPIRY`, `audit.services.ts:12`);
  * expiry is the ONLY invalidation the reference has (TTL-based `setEx`,
  * `:83` — nothing clears keys on ingest).
  *
  * Realization: the cached value is the answer's ROWS, collected to the
  * driver once on the miss and served as a local DataFrame, so a hit runs
  * no Spark job (`collect()` of a local relation reads the driver array).
  * What is cached is the ≤limit-row search RESULT, never the scan, so
  * driver memory per entry is bounded by the query's own limit. The
  * registry is driver-side and thread-safe.
  *
  * Three deliberate improvements over the reference (not citations):
  *  - the key is order-insensitive and collision-free ([[keyOf]]); the
  *    reference keys on unsorted `JSON.stringify(filters)` (`:94`), so the
  *    same filters in a different map order miss its cache;
  *  - a commit to an audit store brings that store's cached
  *    [[AuditEngine.searchCached]] answers up to date from the commit's
  *    merged rows ([[applyCommit]]), where the reference serves answers
  *    up to 5 minutes stale; an answer the delta cannot settle is dropped;
  *  - [[invalidateAll]] / [[invalidateSuffix]] exist for write paths whose
  *    entries have no such maintainer.
  */
final class ResultCache(
    ttlMs: Long = 300L * 1000, // the reference's CACHE_EXPIRY (:12)
    now: () => Long = () => System.currentTimeMillis()) {
  import ResultCache._

  // `answer`: how the entry follows its store's commits; None = dropped
  // on any commit. The frame is built once per set of rows (on the miss,
  // or by the commit that updated them) and reused, so every hit of one
  // entry returns the same DataFrame.
  private final case class Entry(rows: IndexedSeq[Row], schema: StructType,
                                 deadline: Long, answer: Option[AuditAnswer],
                                 spark: SparkSession) {
    lazy val df: DataFrame = spark.createDataFrame(rows.asJava, schema)
  }
  private val entries = TrieMap.empty[String, Entry]
  // in-flight miss computations — the single-flight registry: concurrent
  // misses of the SAME key share one compute; misses of different keys
  // never serialize behind each other (the r16 whole-call lock did both)
  private val inflight =
    TrieMap.empty[String, java.util.concurrent.CompletableFuture[DataFrame]]
  // bumped by every commit and invalidation: a compute that STRADDLES a
  // bump may predate the write, so its result is served to its callers
  // but never cached (see [[getOrCompute]])
  private val generation = new java.util.concurrent.atomic.AtomicLong(0L)
  private var counts = CommitCounts()

  /** Canonical cache key: order-insensitive over the filter map, with
    * key/value escaping so values containing the join characters
    * (`&`, `=`, `#`, `%`) cannot collide two distinct filter maps into
    * one key. (The reference's unsorted-JSON key has both defects.)
    */
  def keyOf(filters: Map[String, Any], limit: Int): String = {
    def esc(s: String): String = s
      .replace("%", "%25").replace("&", "%26")
      .replace("=", "%3D").replace("#", "%23")
    filters.toSeq.map { case (k, v) => esc(k) + "=" + esc(String.valueOf(v)) }
      .sorted.mkString("&") + s"#$limit"
  }

  /** Remove every expired entry — Redis expires keys by itself; a
    * driver-side registry has to sweep, or expired answers stay in driver
    * memory until the same key happens to be asked for again.
    */
  private def sweep(t: Long): Unit =
    entries.foreach { case (k, e) => if (e.deadline <= t) entries.remove(k, e) }

  /** Serve `key` from cache when fresh; otherwise run `compute`, collect
    * its rows, and cache them until the TTL passes. Any commit drops the
    * entry ([[applyCommit]]).
    *
    * The miss path is SINGLE-FLIGHT PER KEY, not per cache: concurrent
    * identical misses share one compute (neither pays the walk twice),
    * while a slow miss — the product walk behind [[graft.streaming
    * .PipelineIngest.searchCurated]] runs one bounded job per walked
    * partition — never blocks OTHER keys' lookups, and never blocks the
    * write path's hooks (r16's whole-call lock could stall the ingest
    * loop's trigger behind a slow cached search). The compute and its
    * collect run outside the cache lock; the lock covers only the
    * registry bookkeeping.
    *
    * A commit or invalidation that arrives WHILE a compute is in flight
    * bumps the generation; the straddling compute's result is served to
    * its callers (they asked before the write, a pre-write answer is what
    * they get — the reference's TTL cache serves far staler) but is NOT
    * cached, so no post-write reader can be handed a pre-write result
    * from the cache.
    */
  def getOrCompute(key: String)(compute: => DataFrame): DataFrame =
    cached(key, None)(compute)

  /** [[getOrCompute]] for an answer of [[AuditEngine.search]]: the entry
    * records `answer`, so a commit to its store updates it in place.
    */
  private[graft] def getOrComputeAnswer(key: String, answer: AuditAnswer)(
      compute: => DataFrame): DataFrame =
    cached(key, Some(answer))(compute)

  private def cached(key: String, answer: Option[AuditAnswer])(
      compute: => DataFrame): DataFrame = {
    while (true) {
      // the frame is built off the lock: only the lookup needs it
      synchronized { sweep(now()); entries.get(key) }.foreach(e => return e.df)
      val mine = new java.util.concurrent.CompletableFuture[DataFrame]()
      inflight.putIfAbsent(key, mine) match {
        case Some(other) =>
          // someone else is computing this key: share its result, off
          // every lock. If ITS compute failed, loop and try ourselves.
          try return other.join()
          catch { case _: java.util.concurrent.CompletionException => () }
        case None =>
          try {
            val gen = generation.get()
            val df = compute
            val e = Entry(df.collect().toIndexedSeq, df.schema, now() + ttlMs,
              answer, df.sparkSession)
            val served = synchronized {
              // a concurrent owner may have cached this key in the gap
              // between our fresh-check and our putIfAbsent (it finished
              // and removed its inflight marker before ours went in):
              // serve ITS fresh entry. When a commit raced our compute,
              // ours is served but not cached.
              entries.get(key).filter(_.deadline > now()).getOrElse {
                if (generation.get() == gen) entries.put(key, e)
                e
              }
            }
            mine.complete(served.df)
            return served.df
          } catch {
            case e: Throwable => mine.completeExceptionally(e); throw e
          } finally { inflight.remove(key, mine); () }
      }
    }
    sys.error("unreachable")
  }

  def contains(key: String): Boolean = {
    sweep(now())
    entries.contains(key)
  }

  /** Bring the cache up to date with one commit to the audit store
    * `store` ([[graft.streaming.IngestJob.storeId]]). `delta` holds the
    * post-commit row of every key the commit touched, at most one per key,
    * in [[graft.streaming.IngestJob.storeSchema]].
    *
    * An entry of [[AuditEngine.searchCached]] over `store`, with rows R
    * (newest first) and last row b, becomes top-limit(R′ ∪ N), where R′ is
    * R without the delta's keys and N the delta rows matching its
    * filters — if |R| < limit (R was every matching row), or if R′ plus
    * the rows of N ranking at or above b still fill the limit. That is exact:
    * every row that matched before the commit but is not in R ranks below
    * b. Otherwise the entry is dropped, and so is every entry of another
    * store, one without a maintainer, and one whose filters Spark would
    * compare under a type coercion ([[CommitCounts]] counts each).
    */
  private[graft] def applyCommit(store: String, delta: Seq[Row]): Unit = {
    val updated = synchronized {
      generation.incrementAndGet()
      entries.toSeq.flatMap { case (k, e) =>
        val next = e.answer match {
          case None => Left(Drop.NoMaintainer)
          case Some(a) if a.store != store => Left(Drop.OtherStore)
          case Some(a) => a.update(e.rows, e.schema, delta)
        }
        counts = counts.count(next.swap.toOption)
        next match {
          case Right(rows) if rows == e.rows => None
          case Right(rows) =>
            val u = e.copy(rows = rows)
            entries.put(k, u)
            Some(u)
          case Left(_) => entries.remove(k); None
        }
      }
    }
    // a new frame's first collect plans it and resolves its row encoder
    // (~5 ms, more in a young JVM): paid here, off the lock, the next hit
    // of an updated entry costs what a repeat hit costs (~2 ms). No job.
    updated.foreach(_.df.collect())
  }

  /** Running counts of what commits did to cached entries. */
  def commitCounts: CommitCounts = synchronized(counts)

  /** Drop everything. DELIBERATE DEVIATION: the reference has no write-path
    * invalidation at all (its cache entries only age out via `setEx`,
    * `audit.services.ts:83`) — so a search served just after ingest can be
    * up to 5 minutes stale there.
    */
  def invalidateAll(): Unit = synchronized {
    generation.incrementAndGet()
    entries.clear()
  }

  /** Drop only the entries whose key ends with `suffix` — the scoped
    * form for caches serving SEVERAL product streams (the
    * [[graft.streaming.PipelineIngest.searchCurated]] key embeds
    * `"@<outDir>"` precisely so one stream's commit doesn't evict the
    * other streams' still-valid results).
    */
  def invalidateSuffix(suffix: String): Unit = synchronized {
    // the generation bump is GLOBAL even though the removal is scoped: a
    // straddling compute for another stream merely skips one caching
    // opportunity (recomputed on the next ask) — cheap, where a
    // per-suffix generation would re-create the key-parsing coupling
    // this cache deliberately avoids
    generation.incrementAndGet()
    entries.keySet.toSeq.filter(_.endsWith(suffix)).foreach(entries.remove)
  }

  def size: Int = entries.size
}

object ResultCache {

  /** Why a commit dropped a cached entry. */
  sealed trait Drop
  object Drop {
    /** Made by plain [[ResultCache.getOrCompute]] (e.g. `searchCurated`). */
    case object NoMaintainer extends Drop
    /** An answer over a different store than the one committed. */
    case object OtherStore extends Drop
    /** A filter value whose JVM type is not the column's: Spark compares
      * it under a coercion the driver does not replay.
      */
    case object UnsupportedFilter extends Drop
    /** The commit moved rows out of the answer and the delta cannot say
      * which stored rows come up in their place.
      */
    case object ShortOfLimit extends Drop
  }

  /** Running totals over every commit: entries kept up to date, and
    * entries dropped, by [[Drop]] reason.
    */
  final case class CommitCounts(
      maintained: Long = 0, noMaintainer: Long = 0, otherStore: Long = 0,
      unsupportedFilter: Long = 0, shortOfLimit: Long = 0) {
    private[graft] def count(drop: Option[Drop]): CommitCounts = drop match {
      case None => copy(maintained = maintained + 1)
      case Some(Drop.NoMaintainer) => copy(noMaintainer = noMaintainer + 1)
      case Some(Drop.OtherStore) => copy(otherStore = otherStore + 1)
      case Some(Drop.UnsupportedFilter) => copy(unsupportedFilter = unsupportedFilter + 1)
      case Some(Drop.ShortOfLimit) => copy(shortOfLimit = shortOfLimit + 1)
    }
  }

  /** What a cached [[AuditEngine.search]] answer is: the top `limit` rows
    * of `store` under conjunctive equality `filters`, ordered `timestamp`
    * descending with nulls last, then `transaction_id` descending.
    */
  private[graft] final case class AuditAnswer(
      store: String, filters: Map[String, Any], limit: Int) {

    /** The answer's rows after a commit with merged rows `delta`, or why
      * the delta cannot settle it ([[ResultCache.applyCommit]]).
      */
    def update(rows: IndexedSeq[Row], schema: StructType,
               delta: Seq[Row]): Either[Drop, IndexedSeq[Row]] = {
      // Spark's `col === lit(v)` with v of the column's own type is plain
      // equality (strings by their UTF-8 bytes); any other pairing goes
      // through a cast, which is not replayed here
      val tests = filters.toSeq.map { case (c, v) =>
        (schema.fields.find(_.name == c).map(_.dataType), v) match {
          case (Some(StringType), s: String) =>
            val u = UTF8String.fromString(s)
            Some((r: Row) => r.getAs[String](c) != null &&
              UTF8String.fromString(r.getAs[String](c)) == u)
          case (Some(IntegerType), i: Int) =>
            Some((r: Row) => r.getAs[Any](c) == i)
          case _ => None
        }
      }
      if (tests.contains(None)) return Left(Drop.UnsupportedFilter)
      val matches = (r: Row) => tests.forall(_.get(r))
      val keys = delta.map(_.getAs[String]("transaction_id")).toSet
      val kept = rows.filterNot(r => keys(r.getAs[String]("transaction_id")))
      val fresh = delta.filter(matches).map(d =>
        new GenericRowWithSchema(schema.fieldNames.map(n => d.getAs[Any](n)), schema): Row)
      // at or above b: ids are unique, so a row ranking level with b is
      // b's own post-commit row
      lazy val filled = rows.lastOption.forall { b =>
        kept.size + fresh.count(AnswerOrder.lteq(_, b)) >= limit
      }
      if (rows.size < limit || filled)
        Right((kept ++ fresh).sorted(AnswerOrder).take(limit))
      else Left(Drop.ShortOfLimit)
    }
  }

  /** [[AuditEngine.search]]'s row order: `timestamp` descending, nulls
    * last, then `transaction_id` descending in Spark's byte order
    * (`UTF8String`, not `String.compareTo`).
    */
  private object AnswerOrder extends Ordering[Row] {
    private def descNullsLast[T](a: T, b: T)(cmp: (T, T) => Int): Int =
      if (a == null) { if (b == null) 0 else 1 }
      else if (b == null) -1
      else cmp(b, a)
    def compare(a: Row, b: Row): Int = {
      val byTime = descNullsLast(a.getAs[Any]("timestamp"), b.getAs[Any]("timestamp"))(
        (x, y) => java.lang.Long.compare(
          DateTimeUtils.anyToMicros(x), DateTimeUtils.anyToMicros(y)))
      if (byTime != 0) byTime
      else descNullsLast(a.getAs[String]("transaction_id"), b.getAs[String]("transaction_id"))(
        (x, y) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
    }
  }
}

/** Driver-side TTL cache of individual payload blobs — the analog of the
  * reference's per-blob Redis entries: `getS3Data` caches each fetched
  * payload under `s3:\${key}` (`audit.services.ts:181`, hit path
  * `:184-188`, fetch-then-cache `:191-199`) with the same 300 s `setEx`
  * expiry as the search cache (`:83`, `:12`).
  *
  * Blob payloads are WRITE-ONCE per key (every transaction mints fresh
  * request/response s3 keys — `processQueue.ts` never overwrites), so
  * TTL-only expiry is the reference-faithful baseline — and like the
  * reference, a blob fetched inside the TTL window may be up to 300 s
  * stale if the store is rewritten under it. [[graft.streaming
  * .IngestJob.run]]'s `invalidateBlobs` hook closes that window for the
  * write path (cleared per committed batch, same as the search cache).
  * `maxEntries` bounds driver memory by evicting the earliest-expiring
  * entries first. Entry count and size are bounded by 2·limit per search
  * (the route caps `limit`), so this stays KB–MB scale on the driver —
  * the blobs themselves, not the blob TABLE, are cached.
  */
final class BlobCache(
    ttlMs: Long = 300L * 1000, // the reference's CACHE_EXPIRY (audit.services.ts:12)
    maxEntries: Int = 10000,
    now: () => Long = () => System.currentTimeMillis()) {

  private final case class Entry(payload: String, deadline: Long)
  private val entries = TrieMap.empty[String, Entry]

  /** Fresh payload for `key`, sweeping the entry if expired. */
  def get(key: String): Option[String] = {
    val t = now()
    entries.get(key) match {
      case Some(e) if e.deadline > t => Some(e.payload)
      case Some(e) => entries.remove(key, e); None
      case None => None
    }
  }

  def put(key: String, payload: String): Unit = {
    entries.put(key, Entry(payload, now() + ttlMs))
    // amortized eviction: trim back to maxEntries only once the overflow
    // reaches 10% slack — at the cap, the old per-put trim materialized
    // and sorted all 10k entries for EVERY blob insert on the search
    // path. Synchronized so concurrent overflows don't each evict.
    if (entries.size > maxEntries + maxEntries / 10) synchronized {
      val over = entries.size - maxEntries
      if (over > 0)
        entries.toSeq.sortBy(_._2.deadline).take(over)
          .foreach { case (k, e) => entries.remove(k, e) }
    }
  }

  def invalidateAll(): Unit = entries.clear()

  def size: Int = entries.size
}
