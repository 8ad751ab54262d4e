package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Search
import graft.sources.Tables
import graft.streaming.IngestJob

/** User-facing entry points — what a user of the reference system would call
  * after switching engines.
  *
  * The reference's public surface is: `GET /api/audit/search` with 0–5
  * equality filters + optional `fetchDetails`
  * (`reference/src/routes/audit.routes.ts:11-55`), over the `api_audit`
  * table fed by the ingestion pipeline. Here that surface is
  * [[AuditEngine]]; the ingestion side is
  * [[graft.streaming.IngestJob]]; ad-hoc SQL comes for free from
  * `spark.sql` over registered views.
  */
object Graft {

  /** Session tuned for this engine's workloads — the one session builder
    * of every main, tool and the test base. `shufflePartitions` should
    * track the executor-core budget (the driver harness uses 32); AQE then
    * coalesces/re-splits at runtime — skew joins and small partitions are
    * handled without manual tuning.
    *
    * File listing stays on the driver (`parallelPartitionDiscovery
    * .threshold` = `Int.MaxValue`). Above the default threshold of 32
    * paths, at any directory level, Spark lists through a job with one
    * task per path; under a `local[N]` master those tasks run on the
    * driver's own threads, so the job only adds scheduling. Two reads hit
    * it on every audit drain: the file source resolving a trigger's ≤100
    * envelope files, and, on a restarted query, the re-plan of the last
    * committed batch — two 100-task jobs per drain. And an audit store
    * older than 32 days (one `dt` directory per day) would pay a listing
    * job on every search and every merge's locate scan.
    */
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Register every fixture table of one scale-factor directory as a temp
    * view, enabling the `spark.sql` query surface over the same data the
    * DataFrame API sees.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    Tables.names.foreach { n =>
      Tables.loadNormalized(spark, sfDir, n).createOrReplaceTempView(n)
    }
}

/** Typed mirror of the store row — the engine's `AuditRecord`
  * (`reference/src/types/index.ts:9-19`; `BIGSERIAL id` omitted, SURVEY
  * §7.4). Options model the reference's nullable columns (a row is
  * response-less until its response event lands).
  */
final case class AuditRecord(
    transaction_id: String,
    app_id: Option[String],
    endpoint: Option[String],
    workflow_id: Option[String],
    action: Option[String],
    status_code: Option[Int],
    timestamp: Option[java.sql.Timestamp],
    request_s3_key: Option[String],
    response_s3_key: Option[String])

/** The reference's search service (`audit.services.ts:89-178`) over a
  * Parquet audit store written by [[graft.streaming.IngestJob]].
  */
final case class AuditEngine(spark: SparkSession, storeDir: String) {

  /** The store as the ingest merge sees it ([[IngestJob.readStore]]):
    * read under the store's explicit schema, so a search runs no
    * schema-inference job, and with the merge's `.bak` recovery, so a day
    * left only under `<store>.bak` by a crashed or stalled swap is read.
    * A swap that lands while a search runs is NOT covered: the listing
    * and the later file reads are separate steps, so the search can miss
    * that day or fail on a moved file. Keep searches and ingest drains
    * sequential.
    */
  def store: DataFrame = IngestJob.readStore(spark, storeDir)

  /** Typed view for compile-time-safe pipelines (`Dataset[AuditRecord]`);
    * the untyped [[search]] surface stays primary because the reference's
    * filter construction is inherently dynamic (SURVEY §1.2).
    */
  def typed: org.apache.spark.sql.Dataset[AuditRecord] = {
    import spark.implicits._
    store.as[AuditRecord]
  }

  /** `searchAuditData`: dynamic conjunctive equality filters → newest-first
    * → cap (default 100, `audit.services.ts:161-162`).
    */
  def search(filters: Map[String, Any], limit: Int = 100): DataFrame =
    Search.search(store, filters, "timestamp", "transaction_id", limit)
      .select("transaction_id", "app_id", "endpoint", "workflow_id", "action",
        "status_code", "timestamp", "request_s3_key", "response_s3_key")

  /** `fetchDetails=true` (`audit.services.ts:181-242`): enrich the top-K
    * result with request/response payloads — the N×2 per-row S3 GETs of the
    * reference become ONE broadcast left join against the payload table.
    */
  def searchWithDetails(
      filters: Map[String, Any],
      payloads: DataFrame, // (s3_key, payload) read from the blob store
      limit: Int = 100): DataFrame = {
    // materialized ONCE (≤limit rows): `top` feeds both the key set and
    // the final join's left side, and `hit` feeds both payload legs —
    // un-materialized, Spark re-executes the store scan + topK sort and
    // the payload semi-join scan once per appearance (no common-subplan
    // reuse beyond identical exchanges)
    val top = search(filters, limit).localCheckpoint(true)
    // The blob store is unbounded — what gets broadcast is the ≤`limit`-row
    // key set (semi join prunes the payload scan shuffle-free), then the
    // ≤2·limit surviving payload rows for the final left joins. The payload
    // table itself is never shuffled or broadcast whole.
    val keys = top.select(explode(array(col("request_s3_key"), col("response_s3_key"))).as("s3_key"))
      .filter(col("s3_key").isNotNull)
    val hit = payloads.join(broadcast(keys), Seq("s3_key"), "left_semi")
      .localCheckpoint(true)
    val req = hit.select(col("s3_key").as("request_s3_key"), col("payload").as("request_data"))
    val resp = hit.select(col("s3_key").as("response_s3_key"), col("payload").as("response_data"))
    top
      .join(broadcast(req), Seq("request_s3_key"), "left")
      .join(broadcast(resp), Seq("response_s3_key"), "left")
  }

  /** `fetchDetails` with the reference's per-blob cache
    * (`audit.services.ts:222-240` assembles each record with `getS3Data`,
    * which serves from Redis under `s3:\${key}` before touching S3,
    * `:180-199`). Spark-native shape: the search result is bounded by
    * `limit` (route contract), so it materializes on the driver exactly as
    * the reference's row array does; keys found in the [[BlobCache]] skip
    * the store entirely, and ALL misses become ONE pushed-down `isin` scan
    * of the payload table (vs N sequential GETs) whose ≤2·limit surviving
    * rows are cached for the next call. A fully-warm cache touches no
    * table at all. Missing keys yield null payloads — the reference
    * likewise returns the bare record when a blob fetch fails (`:234-236`).
    */
  def searchWithDetailsCached(
      filters: Map[String, Any],
      payloads: DataFrame,
      blobs: BlobCache,
      limit: Int = 100): DataFrame = {
    import scala.jdk.CollectionConverters._
    val top = search(filters, limit)
    val rows = top.collect() // ≤ limit rows by route contract
    val keys = rows.flatMap(r => Seq(
        Option(r.getAs[String]("request_s3_key")),
        Option(r.getAs[String]("response_s3_key"))).flatten)
      .distinct
    val cached = keys.flatMap(k => blobs.get(k).map(k -> _))
    val missing = keys.diff(cached.map(_._1))
    val fetched =
      if (missing.isEmpty) Array.empty[(String, String)]
      else payloads.filter(col("s3_key").isin(missing: _*))
        .select("s3_key", "payload").collect()
        .map(r => r.getString(0) -> r.getString(1))
    fetched.foreach { case (k, v) => blobs.put(k, v) }
    val lookup = (cached ++ fetched).toMap
    val out = rows.map { r =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(
        Option(r.getAs[String]("request_s3_key")).flatMap(lookup.get).orNull,
        Option(r.getAs[String]("response_s3_key")).flatMap(lookup.get).orNull))
    }
    val schema = top.schema
      .add("request_data", org.apache.spark.sql.types.StringType)
      .add("response_data", org.apache.spark.sql.types.StringType)
    spark.createDataFrame(out.toSeq.asJava, schema)
  }

  /** Count shape of the route's response (`audit.routes.ts:47,53`). */
  def searchCount(filters: Map[String, Any], limit: Int = 100): Long =
    search(filters, limit).count()

  /** The reference's cached search path: `searchAuditData` checks Redis
    * under a filter-derived key before querying (`audit.services.ts:94-103`)
    * and writes the result back with a 300 s expiry (`:169`, `:12`).
    * DEVIATION: our key is sorted+escaped (the reference's unsorted
    * `JSON.stringify` key misses on reordered filters, `:94`), and the
    * answer does not go stale: [[graft.streaming.IngestJob.run]]'s
    * `invalidate` hook applies each commit's merged rows to it, or drops
    * it when they cannot settle it exactly — the reference serves a
    * cached answer unchanged until its TTL runs out. A hit is the
    * answer's driver rows and runs no Spark job.
    */
  def searchCached(cache: ResultCache, filters: Map[String, Any],
                   limit: Int = 100): DataFrame =
    cache.getOrComputeAnswer(cache.keyOf(filters, limit),
      ResultCache.AuditAnswer(storeId, filters, limit))(search(filters, limit))

  private lazy val storeId = IngestJob.storeId(spark, storeDir)
}
