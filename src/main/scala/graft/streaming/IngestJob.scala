package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The reference's ingestion pipeline (SURVEY §3.1), re-expressed as ONE
  * Structured Streaming job.
  *
  * Reference flow: HTTP middleware serializes request/response envelopes to
  * S3 (`reference/src/middleware/audit.middleware.ts:44-88`), S3 events fan
  * through SQS to a Lambda (`reference/src/lambda/processQueue.ts:100-113`)
  * that classifies each blob by key (`:113`), batches ≤100 (`:5,245-248`),
  * then INSERTs request rows and UPDATE-joins response rows into Postgres
  * (`:162-244`) with per-batch transactions and retries (`:131-160`).
  *
  * Spark realization: a file source replaces S3→SQS→Lambda discovery (new
  * files ARE the event stream; `maxFilesPerTrigger` is the batch-size
  * analog), `foreachBatch` replaces the Lambda body, and checkpointing +
  * idempotent merge gives exactly-once per epoch — strictly stronger than
  * the reference's at-least-once with 3 retries.
  *
  * Merge semantics: request and response sub-events correlate on
  * `transaction_id` (`processQueue.ts:230-238`). The reference silently
  * drops a response that arrives before its request (its UPDATE matches 0
  * rows — SURVEY §2.9 R3). We deliberately deviate (SURVEY §7.4): an early
  * response is kept as a pending row with null request fields and completes
  * when the request lands — the merge is a single `groupBy(transaction_id)`
  * with null-skipping `max` aggregates, which is order-insensitive,
  * idempotent under batch replay, and one shuffle at any scale. A second
  * deliberate deviation: if a transaction receives MULTIPLE conflicting
  * responses (retries), `max` keeps the highest value per field — the
  * reference's sequential UPDATEs are last-write-wins, but SQS redelivery
  * makes its "last" arrival-order-dependent; `max` is deterministic.
  *
  * Store layout: date-partitioned Parquet (`dt=yyyy-MM-dd`, `dt=pending`
  * for response-only rows awaiting their request), mirroring the
  * reference's `audit/{date}/...` object scheme (`s3.service.ts:33-34`) and
  * giving partition pruning on time-ranged queries.
  *
  * Scale shape of a micro-batch (the reference's keyed UPDATE replayed
  * without an index): the LOCATE scan reads the `transaction_id`/`dt`
  * columns of EVERY store file — the batch's ≤`maxFilesPerTrigger` keys
  * are random, so row-group min/max stats skip nothing, and Spark pushes
  * an IN list longer than `spark.sql.parquet.pushdown.inFilterThreshold`
  * (10) only as a min/max range. The REWRITE then touches only the `dt`
  * partitions that contain those keys, as exactly one file per partition
  * — O(affected partitions) written per trigger, not O(store), and a
  * store of D days stays D files until a day outgrows
  * [[MaxRecordsPerFile]]. At warehouse scale the same batch plan lands on
  * a Delta/Iceberg MERGE or a store bucketed by `transaction_id`, which
  * turns the locate scan into a bucket lookup.
  *
  * Jobs per trigger: per-job scheduling, not data, is a small trigger's
  * cost, so [[run]]'s trigger submits only these: ONE collect of the
  * batch's dead flags and keys, the dead-letter write (only when the batch
  * holds a dead letter), the locate, the merge, and the rewrite (an
  * exchange and the write) — 8 jobs on the benchmark's 100-envelope
  * drain. Listing the trigger's files runs on the driver
  * ([[graft.Graft.session]]).
  */
object IngestJob {

  /** Raw envelope schema — union of the request blob the middleware writes
    * (`audit.middleware.ts:44-56`: `transactionId, appId, url, workflowId,
    * action, timestamp`) and the response blob (`transactionId,
    * statusCode`). `url` is what the middleware emits; the Lambda maps it
    * to `endpoint` (`processQueue.ts:119`) — `endpoint` stays readable here
    * for pre-mapped envelopes. The S3 keys are NOT in the blob: the
    * reference derives them from the object key (`processQueue.ts:122,127`),
    * which [[toRecords]] mirrors via `srcKey`. `_corrupt_record` captures
    * unparseable JSON for the dead-letter path (SURVEY §2.9 R5).
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("transactionId", StringType),
    StructField("appId", StringType),
    StructField("url", StringType),
    StructField("endpoint", StringType),
    StructField("workflowId", StringType),
    StructField("action", StringType),
    StructField("timestamp", StringType),
    StructField("statusCode", IntegerType),
    StructField("_corrupt_record", StringType)))

  /** The `api_audit` analog (DDL `reference/src/scripts/setup-db.ts:55-68`;
    * `BIGSERIAL id` deliberately omitted — SURVEY §7.4).
    */
  val storeSchema: StructType = StructType(Seq(
    StructField("transaction_id", StringType, nullable = false),
    StructField("app_id", StringType),
    StructField("endpoint", StringType),
    StructField("workflow_id", StringType),
    StructField("action", StringType),
    StructField("status_code", IntegerType),
    StructField("timestamp", TimestampType),
    StructField("request_s3_key", StringType),
    StructField("response_s3_key", StringType)))

  private val storeSchemaWithDt =
    StructType(storeSchema.fields :+ StructField("dt", StringType))

  /** Row cap per written store file, shared by the merge rewrite and
    * [[compactStore]]: a `dt` partition lands as one file until it holds
    * more rows than this.
    */
  private val MaxRecordsPerFile = 1000000L

  /** Partition value for rows whose request (and thus timestamp) has not
    * arrived yet — an explicit sentinel instead of a null partition so the
    * pending rows are one cheap directory read at correlate time.
    */
  val PendingDt = "pending"

  /** The named column if the frame has it, else a null literal — caller
    * frames (facade users, tests) may omit the optional envelope fields.
    */
  private def colOpt(df: DataFrame, name: String): org.apache.spark.sql.Column =
    if (df.columns.contains(name)) col(name) else lit(null).cast(StringType)

  /** A record is dead-lettered if its JSON did not parse or it lacks the
    * correlation key (the reference throws and counts these —
    * `processQueue.ts:61-79` — and notes "Optionally send to DLQ").
    */
  private def deadCond(df: DataFrame): org.apache.spark.sql.Column =
    colOpt(df, "_corrupt_record").isNotNull || col("transactionId").isNull

  /** Classification + projection: the Lambda's key-based routing
    * (`processQueue.ts:113-128`). `srcKey` is the file path (the S3-key
    * analog); request envelopes contribute request fields, response
    * envelopes only (status_code, response_s3_key). Matching the reference:
    * `endpoint` comes from the blob's `url` (`processQueue.ts:119`, with
    * pre-mapped `endpoint` as fallback) and the request/response S3 keys
    * are the object key itself (`:122,127`), not blob fields.
    */
  def toRecords(envelopes: DataFrame): DataFrame = {
    // match the full file name, exactly like the reference's
    // `key.includes('request.json')` — a bare "request" substring would
    // misroute paths whose transaction id happens to contain it
    val isReq = col("srcKey").contains("request.json")
    envelopes.filter(!deadCond(envelopes)).select(
      col("transactionId").as("transaction_id"),
      when(isReq, col("appId")).as("app_id"),
      when(isReq, coalesce(colOpt(envelopes, "url"), colOpt(envelopes, "endpoint")))
        .as("endpoint"),
      when(isReq, col("workflowId")).as("workflow_id"),
      when(isReq, col("action")).as("action"),
      when(!isReq, col("statusCode")).as("status_code"),
      when(isReq, to_timestamp(col("timestamp"))).as("timestamp"),
      when(isReq, col("srcKey")).as("request_s3_key"),
      when(!isReq, col("srcKey")).as("response_s3_key"))
  }

  /** Dead-letter projection: the quarantined envelope with its source path,
    * failure reason, and raw payload (the corrupt text, or the parsed
    * fields re-serialized when the failure is a missing key).
    */
  def toDeadLetters(envelopes: DataFrame): DataFrame =
    envelopes.filter(deadCond(envelopes)).select(
      col("srcKey").as("src_key"),
      when(colOpt(envelopes, "_corrupt_record").isNotNull, "malformed_json")
        .otherwise("missing_transaction_id").as("reason"),
      coalesce(colOpt(envelopes, "_corrupt_record"),
        to_json(struct(envelopes.columns.filter(_ != "_corrupt_record")
          .map(col).toIndexedSeq: _*))).as("payload"))

  /** Set-based merge of any mix of store rows / request rows / response
    * rows: one hash aggregation on the key; null-skipping `max` picks the
    * populated value per field. Insert, update-join, AND the out-of-order
    * case fall out of the same plan (the reference needs three code paths:
    * `processQueue.ts:162-198` insert, `:199-244` update, drop-on-miss).
    */
  def merge(store: DataFrame, records: DataFrame): DataFrame =
    store.unionByName(records)
      .groupBy(col("transaction_id"))
      .agg(
        max("app_id").as("app_id"),
        max("endpoint").as("endpoint"),
        max("workflow_id").as("workflow_id"),
        max("action").as("action"),
        max("status_code").as("status_code"),
        max("timestamp").as("timestamp"),
        max("request_s3_key").as("request_s3_key"),
        max("response_s3_key").as("response_s3_key"))

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `dt=...` child directory names of `dir`, empty if `dir` is missing. */
  private def listParts(fs: FileSystem, dir: String): Set[String] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("dt="))
      .map(_.getPath.getName.stripPrefix("dt=")).toSet
  }

  /** Hadoop `FileSystem.rename` reports failure by RETURNING FALSE, not
    * throwing. An unchecked rename inside the swap protocol could silently
    * lose the last good generation of a partition (the batch would commit
    * to the checkpoint without its data ever landing) — so every swap step
    * throws on false, failing the epoch so it replays.
    */
  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** Read the current store (without the partition column). Recovers
    * partitions mid-swap: any `dt` present under `<store>.bak` but missing
    * from the primary is read from the backup — at every crash point of
    * [[swapPartitions]] each partition's last fully-written generation is
    * in exactly one of the two places.
    */
  def readStore(spark: SparkSession, storeDir: String): DataFrame =
    readStoreWithDt(spark, storeDir).drop("dt")

  /** The store with its `dt` column, always under the explicit
    * [[storeSchemaWithDt]], so no read runs a footer schema-inference job.
    * The primary is ONE read of the root — one listing, partition
    * discovery typed by the schema. Days present only under `.bak` are
    * read per-partition from there and unioned in.
    */
  private def readStoreWithDt(spark: SparkSession, storeDir: String): DataFrame = {
    val fs = fileSystem(spark, storeDir)
    val bakDir = storeDir + ".bak"
    val primary = listParts(fs, storeDir)
    val fromBak = listParts(fs, bakDir) -- primary
    def reader = spark.read.schema(storeSchemaWithDt)
    val live = if (primary.isEmpty) None else Some(reader.parquet(storeDir))
    val bak = if (fromBak.isEmpty) None
      else Some(reader.option("basePath", bakDir)
        .parquet(fromBak.map(p => s"$bakDir/dt=$p").toSeq: _*))
    (live ++ bak).reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], storeSchemaWithDt))
  }

  /** Promote freshly-written partition directories from `<store>.tmp` into
    * the store, one checked-rename swap per partition: rotate the current
    * generation to `<store>.bak/dt=p`, promote `dt=p` from tmp, and only
    * after EVERY partition promoted drop the backups. Crash at any point
    * leaves each partition's last good generation visible to [[readStore]],
    * and checkpointed epoch replay re-merges to the identical result (the
    * merge is idempotent), so no window loses data.
    */
  private def swapPartitions(
      fs: FileSystem, storeDir: String, parts: Seq[String]): Unit = {
    val bakRoot = new Path(storeDir + ".bak")
    if (!fs.exists(bakRoot)) fs.mkdirs(bakRoot)
    val dstRoot = new Path(storeDir)
    if (!fs.exists(dstRoot)) fs.mkdirs(dstRoot)
    // HEAL first: a partition whose ONLY copy sits under .bak (a previous
    // call crashed between its rotate and promote — e.g. a compaction,
    // which the streaming checkpoint does NOT replay) and which this call
    // is not rewriting would be destroyed by the wholesale backup cleanup
    // below. Promote it back into the primary before touching anything.
    // Partitions this call IS rewriting need no heal: their bak content
    // was already folded into the new generation by readStoreWithDt.
    val rewriting = parts.toSet
    (listParts(fs, storeDir + ".bak") -- listParts(fs, storeDir) -- rewriting)
      .foreach { p =>
        renameOrThrow(fs,
          new Path(s"$storeDir.bak/dt=$p"), new Path(s"$storeDir/dt=$p"))
      }
    parts.foreach { p =>
      val tmp = new Path(s"$storeDir.tmp/dt=$p")
      val dst = new Path(s"$storeDir/dt=$p")
      val bak = new Path(s"$storeDir.bak/dt=$p")
      // a partition absent from tmp means the batch emptied it (all its
      // rows moved, e.g. pending -> dated): rotate it away, promote nothing
      val hasTmp = fs.exists(tmp)
      if (fs.exists(dst)) {
        // dst is the newest generation, so an existing bak is stale
        if (fs.exists(bak)) fs.delete(bak, true)
        renameOrThrow(fs, dst, bak)
      }
      // when dst was missing, an existing bak may be the ONLY copy (crash
      // landed between its rotate and promote) — it must survive until the
      // post-promote cleanup, never be deleted here
      if (hasTmp) renameOrThrow(fs, tmp, dst)
    }
    // every promote verified — the previous generation can go
    fs.delete(bakRoot, true)
    fs.delete(new Path(storeDir + ".tmp"), true)
  }

  /** One micro-batch = the Lambda body (`processQueue.ts:22-80`), scoped to
    * the partitions the batch actually touches:
    *
    *  1. LOCATE — scan the store for the batch's keys (driver-collected:
    *     bounded by `maxFilesPerTrigger`, the Lambda's batch cap) with the
    *     IN-list pushed down to parquet; only `transaction_id` + `dt`
    *     survive column pruning.
    *  2. MERGE — union the hit rows with the batch records, one hash
    *     aggregation on the key.
    *  3. REWRITE — affected partitions = old locations of the keys ∪ new
    *     `dt`s of the merged rows; untouched keys of those partitions are
    *     carried over, everything is repartitioned by `dt` so each
    *     partition lands in `<store>.tmp` as ONE file (up to
    *     [[MaxRecordsPerFile]] rows), and [[swapPartitions]] promotes.
    *     Partitions without a batch key are never read beyond the locate
    *     scan, never written. Without the exchange every rewrite would
    *     write one file per input split per `dt`, and every later search
    *     and locate scan would pay for each of them.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, storeDir: String): Unit =
    mergeKeys(spark, toRecords(batch), scanBatch(batch)._2, storeDir)

  /** Whether `batch` holds a dead letter, and its distinct live keys, from
    * ONE driver collect of (dead flag, `transactionId`) — a row per
    * envelope, bounded by `maxFilesPerTrigger`. The distinct runs on the
    * driver: a `distinct()` on the frame would add a shuffle job.
    */
  private def scanBatch(batch: DataFrame): (Boolean, Seq[String]) = {
    val rows = batch.select(deadCond(batch), col("transactionId")).collect()
    (rows.exists(_.getBoolean(0)),
      rows.iterator.filterNot(_.getBoolean(0)).map(_.getString(1))
        .distinct.toIndexedSeq)
  }

  /** [[processBatch]]'s locate, merge and rewrite, given the batch's
    * records and their distinct keys.
    */
  private def mergeKeys(
      spark: SparkSession, records: DataFrame, keys: Seq[String],
      storeDir: String): Unit = {
    if (keys.isEmpty) return
    val store = readStoreWithDt(spark, storeDir)
    // hit and merged are tiny (bounded by the batch's key count) — persist
    // so the locate scan runs once, not once per action below
    val hit = store.filter(col("transaction_id").isInCollection(keys)).persist()
    val merged = merge(hit.drop("dt"), records)
      .withColumn("dt",
        coalesce(date_format(col("timestamp"), "yyyy-MM-dd"), lit(PendingDt)))
      .persist()
    try {
      // at most one row per key each: collected whole and deduplicated on
      // the driver, since a distinct() would cost a shuffle job apiece
      val parts: Seq[String] =
        (hit.select("dt").collect() ++ merged.select("dt").collect())
          .map(_.getString(0)).distinct.toIndexedSeq
      val survivors = store
        .filter(col("dt").isInCollection(parts) &&
          !col("transaction_id").isInCollection(keys))
      survivors.unionByName(merged)
        .repartition(col("dt"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", MaxRecordsPerFile.toString)
        .partitionBy("dt").parquet(storeDir + ".tmp")
      swapPartitions(fileSystem(spark, storeDir), storeDir, parts)
    } finally {
      hit.unpersist()
      merged.unpersist()
    }
  }

  /** Compact the store's partitions into ≤`maxRecordsPerFile`-row files
    * through the same crash-safe [[swapPartitions]] protocol the merge
    * uses — safe to run between triggers, and a crash mid-compaction loses
    * nothing. Only partitions with more than `minFiles` data files are
    * touched. [[processBatch]] already rewrites each touched partition as
    * one file, so this is for stores whose partitions gathered files some
    * other way: written by an older layout, or by appends from outside
    * the merge.
    */
  def compactStore(
      spark: SparkSession, storeDir: String,
      minFiles: Int = 4, maxRecordsPerFile: Long = MaxRecordsPerFile): Seq[String] = {
    val fs = fileSystem(spark, storeDir)
    val parts = listParts(fs, storeDir).toSeq.filter { p =>
      fs.listStatus(new Path(s"$storeDir/dt=$p"))
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet")) > minFiles
    }.sorted
    if (parts.nonEmpty) {
      readStoreWithDt(spark, storeDir)
        .filter(col("dt").isInCollection(parts))
        // one writer task per dt: each partition lands as one file run
        // (up to maxRecordsPerFile), scaling across executors by dt
        .repartition(col("dt"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", maxRecordsPerFile.toString)
        .partitionBy("dt").parquet(storeDir + ".tmp")
      swapPartitions(fs, storeDir, parts)
    }
    parts
  }

  /** Start the ingestion stream over a directory of request/response JSON
    * envelopes. `maxFilesPerTrigger` mirrors the Lambda batch cap of 100
    * (`processQueue.ts:5`); `observe` mirrors its CloudWatch counters
    * (`:256-281` — RequestsProcessed / ResponsesProcessed), surfaced through
    * any registered `StreamingQueryListener`. Records that fail to parse or
    * lack a `transaction_id` are quarantined to `quarantineDir` (default
    * `<store>.dlq`) with their source path, reason, and raw payload — the
    * reference's acknowledged TODO ("Optionally send to DLQ",
    * `processQueue.ts:76-79`) made real — and still counted in
    * `failed_records`.
    *
    * `invalidate`: an optional [[graft.ResultCache]] cleared after each
    * committed batch, so cached search results never outlive the data they
    * were computed from (a deliberate improvement — the reference's Redis
    * entries only age out via TTL, `audit.services.ts:83`).
    * `invalidateBlobs`: same hook for the per-blob [[graft.BlobCache]] —
    * blob keys are write-once by contract, but a late response batch CAN
    * land a payload for a key a prior search already resolved (as absent),
    * and wiring the write path here means a post-ingest search never
    * serves a pre-ingest blob view even inside the TTL window.
    *
    * Each trigger persists the batch and runs, in order: one collect of
    * (dead flag, `transactionId`), which yields both whether to write the
    * dead-letter store and the distinct keys; the dead-letter write; the
    * locate and merge collects of [[processBatch]]'s merge step; and its
    * rewrite.
    */
  def run(
      spark: SparkSession,
      inDir: String,
      storeDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 100,
      trigger: Trigger = Trigger.AvailableNow(),
      quarantineDir: String = null,
      invalidate: graft.ResultCache = null,
      invalidateBlobs: graft.BlobCache = null): StreamingQuery = {
    val dlqDir = Option(quarantineDir).getOrElse(storeDir + ".dlq")
    // a dead-lettered envelope must count ONLY as failed: the reference's
    // processRecord throw skips the batch push entirely
    // (processQueue.ts:42-66), so Requests/ResponsesProcessed are success
    // counters, disjoint from FailedRecords
    val failed = col("_corrupt_record").isNotNull || col("transactionId").isNull
    val envelopes = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(inDir)
      .withColumn("srcKey", col("_metadata.file_path"))
      .observe("ingest",
        count(when(col("srcKey").contains("request.json") && !failed, 1))
          .as("requests_processed"),
        count(when(!col("srcKey").contains("request.json") && !failed, 1))
          .as("responses_processed"),
        count(when(failed, 1)).as("failed_records"))
    IngestStages.loop(envelopes, checkpointDir, trigger) { (batch, epochId) =>
      // one materialization of the micro-batch: the steps below run
      // several actions (key collect, quarantine write, store merge) and
      // an uncached batch would re-read the source AND re-fire the
      // observed counters once per action, over-reporting every metric
      val b = batch.persist()
      try {
        val (hasDead, keys) = scanBatch(b)
        // keyed by epoch + dynamic partition overwrite: a replayed epoch
        // (crash after the DLQ write but before the checkpoint commit)
        // rewrites ITS partition instead of appending duplicates — the
        // quarantine gets the same exactly-once-per-epoch semantics as
        // the store swap
        if (hasDead)
          toDeadLetters(b).withColumn("batch_id", lit(epochId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(dlqDir)
        mergeKeys(spark, toRecords(b), keys, storeDir)
        Option(invalidate).foreach(_.invalidateAll())
        Option(invalidateBlobs).foreach(_.invalidateAll())
      } finally b.unpersist()
    }
  }
}
