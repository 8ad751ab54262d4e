package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.TextFns.h60
import graft.operators.Dedup

/** DOCUMENT ingestion with INCREMENTAL similarity-index maintenance — the
  * missing half of the incremental-dedup story: [[graft.operators.Dedup
  * .minhashPairsIncremental]] / [[graft.operators.Dedup
  * .similarityJoinIncremental]] probe a "stored" index, and this job is
  * what actually STORES it. Each micro-batch of documents is (1) deduped
  * against the already-ingested corpus through the on-disk index — corpus
  * text is never rescanned — then (2) appended to the corpus store, and
  * (3) its own index rows are appended, so the next batch probes a store
  * that already covers this one. The reference's analogous loop is its
  * per-batch S3→Postgres upsert (`reference/src/lambda/processQueue
  * .ts:100-160`); here the "table" is the corpus + its two similarity
  * indexes, and the per-batch work is O(batch), never O(corpus).
  *
  * Store layout under `root/` (all parquet):
  *  - `corpus/`  — the documents themselves, partitioned by `batch_id`;
  *  - `lsh/`     — `(id, band, bucket)` MinHash band buckets
  *    ([[Dedup.bandBuckets]]), partitioned by `(batch_id, bmod)` where
  *    `bmod = pmod(h60(bucket), partitionMod)` — the probe's static
  *    partition prune (plan-pinned in PlanAuditSpec);
  *  - `simidx/epoch=E/` — one EPOCH of the PPJoin similarity index: its
  *    df DICTIONARY (`df/`, partitioned by `hmod = pmod(h,
  *    partitionMod)`) together with the `(id, h, p, n)` prefix rows
  *    ranked under it (`prefix/`, partitioned by `(batch_id, hmod)`),
  *    plus a `_DONE` marker created last — see [[simidxDir]];
  *  - `bm25/postings/` — df-free BM25 postings `(term_h, id, tf, dl)`
  *    ([[graft.operators.TextSearch.postingsRows]]), partitioned by
  *    `(batch_id, tmod)` with `tmod = pmod(term_h, partitionMod)`; and
  *    `bm25/stats/` — ONE `(n_docs, total_toks)` row per batch. Both are
  *    strictly per-batch data, so the append is the entire maintenance —
  *    no epoch versioning (BM25's corpus-globals are derived at probe
  *    time: df as a window over the pruned query-term postings, stats as
  *    the sum of the batch rows — see [[graft.operators.TextSearch
  *    .bm25ProbeIncr]]);
  *  - `positions/` — positional postings `(term_h, id, pos)` (the
  *    phrase index — [[graft.operators.TextSearch.positionalPostings]]),
  *    same per-doc append-only contract and `(batch_id, tmod)` layout
  *    as the BM25 store;
  *  - `pairs/`   — the near-dup pairs each batch's probe found,
  *    partitioned by `batch_id` (the job's queryable output).
  *
  * Epoch dictionary: prefixes must be ranked under ONE consistent total
  * order for the prefix-filter theorem to hold across batches, and the
  * order need NOT be current (see [[Dedup.prefixRows]] — exactness is
  * order-independent; df-ascending is only the performance heuristic). So
  * the dictionary is frozen from the first batch ("epoch 0") and every
  * later batch ranks under it, hashes unseen at epoch 0 ordering as
  * maximally-rare df 0. When corpus drift erodes the heuristic (prefixes
  * grow toward whole docs), [[refreshDictionary]] re-ranks EVERYTHING
  * under a fresh epoch in one batch job — the compaction analog; the
  * epoch directory keeps dictionary and prefixes INSEPARABLE, because
  * mixing generations (new df, old prefixes) would silently break the
  * prefix theorem rather than fail.
  *
  * Exactly-once: every write partitions by `batch_id` first and uses
  * dynamic-partition OVERWRITE, so a replayed epoch rewrites ITS
  * partitions instead of appending duplicates — the same idempotence
  * contract as [[IngestJob]]'s store swap, without the swap protocol
  * (index rows are per-doc, so a batch never rewrites another batch's
  * partitions).
  *
  * Scale shape per batch: the probe reads only touched index partitions
  * (static `bmod`/`hmod` isin over driver-side mod sets bounded by the
  * modulus); corpus TEXT is read only for verified-candidate members via
  * the broadcast semi-filter inside the verify; the appends are narrow
  * per-doc pipelines over the batch alone. Nothing is O(corpus) except
  * the pruned index-partition reads.
  */
object DocIndexIngest {

  /** Index parameters — fixed per store (a probe must use the parameters
    * the index was built with; `minJaccPct` may only be raised at probe
    * time, never lowered below the build value).
    */
  final case class Config(
      k: Int = 16, bands: Int = 4, minJaccPct: Int = 50,
      maxBucket: Int = 64, partitionMod: Int = 64)

  def configDir(root: String): String = s"$root/config"
  def corpusDir(root: String): String = s"$root/corpus"
  def lshDir(root: String): String = s"$root/lsh"
  def pairsDir(root: String): String = s"$root/pairs"
  def bm25PostingsDir(root: String): String = s"$root/bm25/postings"
  def bm25StatsDir(root: String): String = s"$root/bm25/stats"
  def posPostingsDir(root: String): String = s"$root/positions"

  /** The prefix index and its df dictionary live together under an
    * EPOCH-versioned directory: prefixes are only exact when probed
    * under the SAME total order they were ranked with, so the two halves
    * must never be swapped independently (a df from epoch N+1 probing
    * prefixes from epoch N silently voids the prefix-filter theorem —
    * missed pairs, not an error). An epoch directory is complete iff its
    * `_DONE` marker exists (created last — a single atomic file create);
    * readers resolve the highest done epoch, so a crashed
    * [[refreshDictionary]] leaves an ignored orphan, never a torn index.
    */
  def simidxDir(root: String, epoch: Long): String = s"$root/simidx/epoch=$epoch"
  def prefixDir(root: String, epoch: Long): String = s"${simidxDir(root, epoch)}/prefix"
  def dfDir(root: String, epoch: Long): String = s"${simidxDir(root, epoch)}/df"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir))

  private def markDone(spark: SparkSession, epochDir: String): Unit =
    fs(spark, epochDir).create(new Path(s"$epochDir/_DONE"), true).close()

  /** The store's persisted build [[Config]] — `None` on a store written
    * before config persistence existed (r13; the next `processBatch`
    * backfills it).
    */
  def storedConfig(spark: SparkSession, root: String): Option[Config] =
    if (!exists(spark, configDir(root))) None
    else scala.util.Try {
      val r = spark.read.parquet(configDir(root)).head()
      Config(r.getAs[Int]("k"), r.getAs[Int]("bands"),
        r.getAs[Int]("minJaccPct"), r.getAs[Int]("maxBucket"),
        r.getAs[Int]("partitionMod"))
    }.toOption // a write torn by a crash reads as absent; the next
               // processBatch rewrites it (deterministic bytes)

  /** Persist the build Config on the first batch (create-if-absent with
    * deterministic bytes — a crash between store and config writes
    * self-heals on the next batch, a replayed batch rewrites nothing);
    * every later batch REQUIRES a match. An index folded under different
    * band/prefix/partition parameters than it was built with silently
    * misses pairs and prunes wrong partitions — parameter drift must be
    * an error, not a recall loss (the [[EmbIndexIngest]] meta pattern).
    */
  private def writeOrCheckConfig(spark: SparkSession, root: String,
                                 cfg: Config): Unit =
    storedConfig(spark, root) match {
      case Some(st) =>
        require(st == cfg,
          s"doc-index store at $root was built with $st but this call " +
            s"passed $cfg - probing or folding under drifted parameters " +
            "silently corrupts results; pass the store's own Config")
      case None =>
        // Backfilling config onto a PRE-CONFIG store (r13-or-earlier
        // layout: data exists, config/ doesn't) persists the CALLER's cfg
        // as authoritative — there is nothing to validate it against, and
        // a drifted cfg passed here permanently inverts the check (later
        // calls with the store's TRUE build parameters get rejected).
        // Warn so a wrong backfill is diagnosable instead of silent.
        if (exists(spark, corpusDir(root)))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"doc-index store at $root has data but no persisted config; " +
              s"backfilling $cfg as authoritative. If this does not match " +
              "the parameters the store was originally built with, later " +
              "calls with the true parameters will be rejected - delete " +
              s"${configDir(root)} and backfill with the build-time Config.")
        import spark.implicits._
        Seq((cfg.k, cfg.bands, cfg.minJaccPct, cfg.maxBucket, cfg.partitionMod))
          .toDF("k", "bands", "minJaccPct", "maxBucket", "partitionMod")
          .coalesce(1).write.mode("overwrite").parquet(configDir(root))
    }

  /** Highest epoch whose `_DONE` marker exists; None before bootstrap. */
  def currentEpoch(spark: SparkSession, root: String): Option[Long] = {
    val base = new Path(s"$root/simidx")
    val f = fs(spark, base.toString)
    if (!f.exists(base)) None
    else f.listStatus(base).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(_.getPath.getName.stripPrefix("epoch=").toLong)
      .filter(e => f.exists(new Path(s"${simidxDir(root, e)}/_DONE")))
      .maxOption
  }

  private def overwriteParts(df: DataFrame, partCols: Seq[String], dir: String): Unit =
    IngestStages.overwriteParts(df, partCols, dir)

  /** The ingested corpus (no layout columns). Empty-with-schema before the
    * first batch lands — callers pass a template frame for the schema.
    * `excludeBatch`: drop that `batch_id` partition from the read (a
    * partition prune) — the epoch-REPLAY guard: a crash after this
    * epoch's appends but before the checkpoint commit replays the batch,
    * and an unguarded probe would see the batch's own previously-written
    * rows and emit every doc paired with itself.
    */
  def readCorpus(spark: SparkSession, root: String, template: DataFrame,
                 excludeBatch: Long = Long.MinValue): DataFrame =
    if (exists(spark, corpusDir(root))) {
      val stored = StoreCompaction.readStore(spark, corpusDir(root))
        .filter(col("batch_id") =!= excludeBatch)
      // ONLY the known view-only provenance columns null-fill when
      // absent from the store (CurateIngest's reidBatch `orig_id` rides
      // batches but is deliberately never persisted by the index
      // stores); any OTHER template column missing from the store is a
      // genuine store/schema mismatch — null-filling it would silently
      // feed null ids/text into every probe, so it fails loudly here
      val have = stored.columns.toSet
      val viewOnly = Set("orig_id")
      stored.select(template.schema.fields.map(f =>
        if (have(f.name)) col(f.name)
        else if (viewOnly(f.name)) lit(null).cast(f.dataType).as(f.name)
        else sys.error(s"corpus store at ${corpusDir(root)} is missing " +
          s"template column '${f.name}' (stored: " +
          s"${stored.columns.sorted.mkString(", ")}) — only view-only " +
          "provenance columns (orig_id) null-fill; a missing data column " +
          "is a store/schema mismatch, not alignment")).toIndexedSeq: _*)
    } else template.limit(0)

  /** Stored band buckets with their `bmod` partition column (the probe's
    * prune key). Empty-with-schema before the first batch. `excludeBatch`
    * as in [[readCorpus]].
    */
  def readLsh(spark: SparkSession, root: String, idCol: String,
              excludeBatch: Long = Long.MinValue): DataFrame =
    if (exists(spark, lshDir(root)))
      StoreCompaction.readStore(spark, lshDir(root))
        .filter(col("batch_id") =!= excludeBatch)
        .select(col(idCol), col("band"), col("bucket"), col("bmod"))
    else {
      val s = SparkSession.active
      import s.implicits._
      Seq.empty[(Long, Int, String, Long)].toDF(idCol, "band", "bucket", "bmod")
    }

  /** Stored prefix rows (current done epoch) with their `hmod` partition
    * column. `excludeBatch` as in [[readCorpus]].
    */
  def readPrefix(spark: SparkSession, root: String, idCol: String,
                 excludeBatch: Long = Long.MinValue): DataFrame =
    currentEpoch(spark, root)
      .filter(e => exists(spark, prefixDir(root, e)))
      .map { e =>
        StoreCompaction.readStore(spark, prefixDir(root, e))
          .filter(col("batch_id") =!= excludeBatch)
          .select(col(idCol), col("h"), col("p"), col("n"), col("hmod"))
      }
      .getOrElse {
        val s = SparkSession.active
        import s.implicits._
        Seq.empty[(Long, Long, Long, Long, Long)].toDF(idCol, "h", "p", "n", "hmod")
      }

  /** Stored BM25 postings `(term_h, id, tf, dl, tmod)` — df-free (see
    * [[graft.operators.TextSearch.postingsRows]]), so unlike the prefix
    * index there is NO epoch to version: nothing stored is corpus-global.
    * Empty-with-schema before the first batch.
    */
  def readBm25Postings(spark: SparkSession, root: String, idCol: String,
                       excludeBatch: Long = Long.MinValue): DataFrame =
    if (exists(spark, bm25PostingsDir(root)))
      StoreCompaction.readStore(spark, bm25PostingsDir(root))
        .filter(col("batch_id") =!= excludeBatch)
        .select(col("term_h"), col(idCol), col("tf"), col("dl"), col("tmod"))
    else {
      val s = SparkSession.active
      import s.implicits._
      Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("term_h", idCol, "tf", "dl", "tmod")
    }

  /** Per-batch corpus stats rows `(n_docs, total_toks, batch_id)`; a
    * probe SUMS them — O(batches) tiny rows, folded by [[compactStores]].
    */
  def readBm25Stats(spark: SparkSession, root: String,
                    excludeBatch: Long = Long.MinValue): DataFrame =
    if (exists(spark, bm25StatsDir(root)))
      StoreCompaction.readStore(spark, bm25StatsDir(root))
        .filter(col("batch_id") =!= excludeBatch)
        .select(col("n_docs"), col("total_toks"))
    else {
      val s = SparkSession.active
      import s.implicits._
      Seq.empty[(Long, Long)].toDF("n_docs", "total_toks")
    }

  /** BM25 top-k over everything ingested so far, through the stored
    * index — reads only the query terms' `tmod` partitions plus the tiny
    * stats store; result ≡ `bm25TopK` over the full corpus (spec-pinned).
    */
  def bm25Search(spark: SparkSession, root: String, idCol: String,
                 query: String, k: Int, cfg: Config = Config()): DataFrame = {
    // probing with a different partitionMod than the store's layout
    // prunes the WRONG tmod partitions — silent missing postings
    storedConfig(spark, root).foreach(st =>
      require(st.partitionMod == cfg.partitionMod,
        s"store at $root is partitioned with mod ${st.partitionMod}, " +
          s"probe passed ${cfg.partitionMod}"))
    graft.operators.TextSearch.bm25ProbeIncr(
      readBm25Postings(spark, root, idCol), readBm25Stats(spark, root),
      idCol, query, k, partitionMod = cfg.partitionMod.toLong)
  }

  /** Stored positional postings `(term_h, id, pos, tmod)` — per-doc rows
    * like the BM25 store, so append-only too. Empty-with-schema before
    * the first batch.
    */
  def readPositions(spark: SparkSession, root: String, idCol: String,
                    excludeBatch: Long = Long.MinValue): DataFrame =
    if (exists(spark, posPostingsDir(root)))
      StoreCompaction.readStore(spark, posPostingsDir(root))
        .filter(col("batch_id") =!= excludeBatch)
        .select(col("term_h"), col(idCol), col("pos"), col("tmod"))
    else {
      val s = SparkSession.active
      import s.implicits._
      Seq.empty[(Long, Long, Long, Long)].toDF("term_h", idCol, "pos", "tmod")
    }

  /** Phrase occurrence counts over everything ingested so far, through
    * the stored positional index — reads only the phrase terms' `tmod`
    * partitions; ≡ `phraseCount` over the full corpus (spec-pinned).
    */
  def phraseSearch(spark: SparkSession, root: String, idCol: String,
                   phrase: String, cfg: Config = Config()): DataFrame = {
    storedConfig(spark, root).foreach(st =>
      require(st.partitionMod == cfg.partitionMod,
        s"store at $root is partitioned with mod ${st.partitionMod}, " +
          s"probe passed ${cfg.partitionMod}"))
    graft.operators.TextSearch.phraseProbe(
      readPositions(spark, root, idCol), idCol, phrase,
      partitionMod = cfg.partitionMod.toLong)
  }

  /** The current done epoch's df dictionary `(h, df)`. Empty before the
    * first batch.
    */
  def readDf(spark: SparkSession, root: String): DataFrame =
    currentEpoch(spark, root) match {
      case Some(e) => spark.read.parquet(dfDir(root, e)).select(col("h"), col("df"))
      case None =>
        val s = SparkSession.active
        import s.implicits._
        Seq.empty[(Long, Long)].toDF("h", "df")
    }

  /** One micro-batch: probe the stored index for near-dup pairs touching
    * `batch`, then fold the batch into corpus + both indexes. Returns the
    * pairs found (also persisted under `pairs/batch_id=<epochId>`).
    *
    * The probe runs BEFORE the appends and reads every store with
    * `excludeBatch = epochId` — [[Dedup.minhashPairsIncremental]] expects
    * the corpus side to exclude the incoming batch (batch-batch pairs are
    * generated internally), and a REPLAYED epoch (crash after this
    * epoch's appends, before the checkpoint commit) would otherwise probe
    * an index already containing itself and emit self-pairs. With the
    * exclusion, replay is exactly-once end to end: the probe sees
    * precisely the pre-epoch store (batch_id is the partition key, so the
    * exclusion is a plan-time prune), and every write below overwrites
    * the replayed `batch_id` partitions instead of appending duplicates
    * (spec-pinned: replayed probe ≡ first probe, stores byte-identical).
    */
  def processBatch(
      spark: SparkSession, batch: DataFrame, root: String,
      textCol: String, idCol: String,
      epochId: Long, cfg: Config = Config()): DataFrame = {
    // a compaction that crashed mid-swap leaves a store readable only
    // after its roll-forward/back — heal every store first (one FS
    // existence check each when there is nothing to do)
    Seq(corpusDir(root), lshDir(root), pairsDir(root),
        bm25PostingsDir(root), bm25StatsDir(root), posPostingsDir(root),
        GraphIngest.degreesDir(root), GraphIngest.remapDir(root))
      .foreach(StoreCompaction.heal(spark, _))
    // resolved once for the heal and the bootstrap decisions below (each
    // resolve lists simidx/ and probes a _DONE marker per epoch); only the
    // post-bootstrap epoch is resolved again
    val preEpoch = currentEpoch(spark, root)
    preEpoch.foreach(e => StoreCompaction.heal(spark, prefixDir(root, e)))
    writeOrCheckConfig(spark, root, cfg)
    // one materialization: the batch feeds the probe, three index
    // appends, and the corpus append. Gated: CurateIngest hands in its
    // already-checkpointed survivor set (column-pruned).
    val b = IngestStages.materialize(batch)

    // ── bootstrap: freeze the epoch-0 dictionary from the first batch ──
    if (preEpoch.isEmpty) {
      if (b.isEmpty) {
        // nothing to index AND nothing to freeze the dictionary from: an
        // empty epoch-0 dictionary would rank every shingle at df=0 for
        // the store's whole life (exactness holds — the order is df-
        // agnostic-correct — but the prefix-filter selectivity heuristic
        // is silently lost until a manual refreshDictionary). Realistic
        // via CurateIngest: a first batch whose rows all fail the
        // lang/quality filters hands in an empty survivor set. Defer the
        // bootstrap to the first nonempty batch; this trigger has no
        // pairs and writes nothing.
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"doc-index store at $root not bootstrapped: empty batch; " +
            "epoch-0 df dictionary deferred to the first nonempty batch")
        val idT = b.schema(idCol).dataType
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id_a", idT),
            org.apache.spark.sql.types.StructField("id_b", idT),
            org.apache.spark.sql.types.StructField("jacc_pct",
              org.apache.spark.sql.types.LongType))))
      }
      ()
    }
    val bootstrapStage: Option[(String, () => Unit)] =
      if (preEpoch.isEmpty)
        // deterministic content (md5-derived) ⇒ a replayed bootstrap
        // rewrites identical bytes; plain overwrite is idempotent here
        Some("docidx:df_bootstrap" -> (() => {
          Dedup.shingleDfTable(b, textCol, idCol)
            .withColumn("hmod", pmod(col("h"), lit(cfg.partitionMod.toLong)))
            .repartition(col("hmod")) // class-keyed write layout (IngestStages idiom)
            .write.mode("overwrite").partitionBy("hmod").parquet(dfDir(root, 0L))
          markDone(spark, simidxDir(root, 0L))
        }))
      else None

    // ── probe: near-dup pairs touching this batch, via the stored index ──
    // (everything pair-derived depends on it). The probe never reads the
    // df dictionary, so on the bootstrap path (epoch-0: the one-shot
    // corpus builds, and any fresh root's first trigger) the dictionary
    // freeze — a full shingle+agg+write pass over the batch — submits
    // CONCURRENTLY with it instead of serializing one corpus-sized job
    // ahead of another ([[IngestStages]]). prefix_append below DOES read
    // the dictionary; it runs only after both settle, and the epoch is
    // resolved after the bootstrap landed its _DONE marker.
    var pairsV: DataFrame = null
    IngestStages.inParallel(spark, (bootstrapStage.toSeq :+
      ("docidx:lsh_probe" -> (() => {
        val corpus = readCorpus(spark, root, b, excludeBatch = epochId)
        pairsV = Dedup.minhashPairsIncremental(
            readLsh(spark, root, idCol, excludeBatch = epochId), corpus, b,
            textCol, idCol,
            cfg.k, cfg.bands, cfg.minJaccPct, cfg.maxBucket, cfg.partitionMod)
          .localCheckpoint(true)
      }))): _*)
    val pairs = pairsV
    val epoch = currentEpoch(spark, root).get

    // ── fold the batch in: every append below is an independent
    // batch-keyed overwrite of its own directory reading the one
    // checkpointed batch (or the checkpointed pairs), so they submit
    // CONCURRENTLY — at micro-batch size the trigger's cost is per-job
    // fixed overhead × number of writes, and overlapping the submissions
    // is the whole fix (see [[IngestStages]]; stream_ingest_latency
    // measured 6.8 → 4.0 s per sf0.1 1% trigger from this alone, with
    // job-span sum ≈ 2.2× wall in the JobProfile stream_ingest
    // breakdown). Content is unchanged: same frames, same partition
    // keys, same dynamic-overwrite semantics.
    IngestStages.inParallel(spark,
      "docidx:pairs_append" -> (() =>
        overwriteParts(pairs.withColumn("batch_id", lit(epochId)),
          Seq("batch_id"), pairsDir(root))),
      // derived near-dup GRAPH stores (degrees + component-merge log) so
      // pageRankProbe/ccLabelsProbe answer without re-shingling the corpus
      "docidx:graph_fold" -> (() =>
        GraphIngest.foldBatch(spark, pairs, root, epochId)),
      "docidx:corpus_append" -> (() =>
        overwriteParts(b.withColumn("batch_id", lit(epochId)),
          Seq("batch_id"), corpusDir(root))),
      "docidx:lsh_append" -> (() =>
        overwriteParts(
          Dedup.bandBuckets(b, textCol, idCol, cfg.k, cfg.bands)
            .withColumn("bmod", pmod(h60(col("bucket")), lit(cfg.partitionMod.toLong)))
            .withColumn("batch_id", lit(epochId)),
          Seq("batch_id", "bmod"), lshDir(root))),
      // BM25: df-free postings + this batch's stats row — per-doc rows
      // only, so the append IS the whole maintenance (no epoch, no refresh)
      "docidx:bm25_postings" -> (() =>
        overwriteParts(
          graft.operators.TextSearch.postingsRows(b, textCol, idCol)
            .withColumn("tmod", pmod(col("term_h"), lit(cfg.partitionMod.toLong)))
            .withColumn("batch_id", lit(epochId)),
          Seq("batch_id", "tmod"), bm25PostingsDir(root))),
      "docidx:bm25_stats" -> (() =>
        overwriteParts(
          graft.operators.TextSearch.corpusStats(b, textCol)
            .withColumn("batch_id", lit(epochId)),
          Seq("batch_id"), bm25StatsDir(root))),
      // positional postings (phrase index): per-doc rows, append-only too
      "docidx:positions_append" -> (() =>
        overwriteParts(
          graft.operators.TextSearch.positionalPostings(b, textCol, idCol)
            .withColumn("tmod", pmod(col("term_h"), lit(cfg.partitionMod.toLong)))
            .withColumn("batch_id", lit(epochId)),
          Seq("batch_id", "tmod"), posPostingsDir(root))),
      // batch prefixes rank under the EPOCH order; prune the dictionary
      // join to the batch's touched hmod classes (static isin — the
      // batch's own hashes all live in touched classes by construction)
      "docidx:prefix_append" -> (() => {
        val batchSh = Dedup.shingleRows(b, textCol, idCol)
          .select(pmod(h60(col("s")), lit(cfg.partitionMod.toLong)).as("hmod"))
          .distinct().collect().map(_.getLong(0))
        val dfStore = spark.read.parquet(dfDir(root, epoch))
          .filter(col("hmod").isin(batchSh.map(Long.box): _*))
          .select(col("h"), col("df"))
        overwriteParts(
          Dedup.prefixRows(b, dfStore, textCol, idCol, cfg.minJaccPct,
              batchLocal = true)
            .withColumn("hmod", pmod(col("h"), lit(cfg.partitionMod.toLong)))
            .withColumn("batch_id", lit(epochId)),
          Seq("batch_id", "hmod"), prefixDir(root, epoch))
      }))
    pairs
  }

  /** Roll the index to a fresh epoch: rebuild the df dictionary and ALL
    * prefix rows from the current corpus in one batch job (the compaction
    * analog — run it when drift has eroded the df heuristic, e.g. mean
    * prefix length trending toward mean doc length; also collapses the
    * per-batch prefix file accumulation into one `batch_id=-1` base).
    * Both halves land under the NEW epoch directory and become visible
    * atomically via its `_DONE` marker (created last) — a crash at any
    * earlier point leaves an ignored orphan and the old epoch fully
    * consistent. The two halves must move together: new-df-over-old-
    * prefixes would rank batch prefixes under a different order than the
    * stored rows and silently void the prefix-filter guarantee. Run
    * between triggers with every ingested batch CHECKPOINT-COMMITTED
    * (single-writer + committed-only, [[StoreCompaction]]'s contract and
    * for the same reason: a rebuild that folds a replayable batch's rows
    * into the `-1` base duplicates them when the batch replays); older
    * epoch directories are dead after the marker lands and may be
    * deleted at leisure.
    */
  def refreshDictionary(
      spark: SparkSession, root: String, template: DataFrame,
      textCol: String, idCol: String,
      newEpoch: Long, cfg: Config = Config()): Unit = {
    require(currentEpoch(spark, root).forall(_ < newEpoch),
      s"newEpoch $newEpoch must exceed the current epoch")
    // the same drift gate every other write path runs: a rebuild under a
    // different partitionMod/minJaccPct than the store's persisted config
    // would mix two hmod schemes in one store — probes prune by the
    // config's mod and silently skip the drifted base rows
    writeOrCheckConfig(spark, root, cfg)
    val corpus = readCorpus(spark, root, template)
    val (prefix, dfT) = Dedup.similarityIndex(corpus, textCol, idCol, cfg.minJaccPct)
    // class-keyed write layout (IngestStages idiom); the refresh is
    // CORPUS-sized, so maxRecordsPerFile bounds per-class file size
    // (r18 — one unbounded file per hmod otherwise, see StoreCompaction)
    dfT.withColumn("hmod", pmod(col("h"), lit(cfg.partitionMod.toLong)))
      .repartition(col("hmod"))
      .write.mode("overwrite").option("maxRecordsPerFile", "1000000")
      .partitionBy("hmod").parquet(dfDir(root, newEpoch))
    prefix
      .withColumn("hmod", pmod(col("h"), lit(cfg.partitionMod.toLong)))
      .withColumn("batch_id", lit(-1L))
      .repartition(col("hmod"))
      .write.mode("overwrite").option("maxRecordsPerFile", "1000000")
      .partitionBy("batch_id", "hmod")
      .parquet(prefixDir(root, newEpoch))
    markDone(spark, simidxDir(root, newEpoch))
  }

  /** Fold every committed `batch_id ≤ upToBatch` partition of the four
    * stores into one `batch_id=-1` base each ([[StoreCompaction]] — see
    * its doc for the crash protocol and why per-store independence is
    * sound). `upToBatch` must not exceed the last CHECKPOINT-COMMITTED
    * epoch: an uncommitted batch can replay, and its `batch_id=k`
    * rewrite would duplicate rows already folded into the base. Run
    * between triggers with the stream stopped (single writer), at
    * whatever cadence keeps file counts healthy — the full fold is
    * O(corpus) like [[refreshDictionary]], so daily-ish, not per-batch.
    * `fromExclusive` selects the TIER form instead ([[StoreCompaction]]'s
    * O(tier) in-loop cadence — fold only `(fromExclusive, upToBatch]`).
    */
  def compactStores(spark: SparkSession, root: String, upToBatch: Long,
                    cfg: Config = Config(),
                    fromExclusive: Long = Long.MinValue): Unit = {
    StoreCompaction.compact(spark, corpusDir(root), Seq.empty, upToBatch, fromExclusive = fromExclusive)
    StoreCompaction.compact(spark, lshDir(root), Seq("bmod"), upToBatch, fromExclusive = fromExclusive)
    StoreCompaction.compact(spark, pairsDir(root), Seq.empty, upToBatch, fromExclusive = fromExclusive)
    StoreCompaction.compact(spark, bm25PostingsDir(root), Seq("tmod"), upToBatch, fromExclusive = fromExclusive)
    StoreCompaction.compact(spark, bm25StatsDir(root), Seq.empty, upToBatch, fromExclusive = fromExclusive)
    StoreCompaction.compact(spark, posPostingsDir(root), Seq("tmod"), upToBatch, fromExclusive = fromExclusive)
    StoreCompaction.compact(spark, GraphIngest.degreesDir(root), Seq.empty, upToBatch, fromExclusive = fromExclusive)
    StoreCompaction.compact(spark, GraphIngest.remapDir(root), Seq.empty, upToBatch, fromExclusive = fromExclusive)
    currentEpoch(spark, root).foreach { e =>
      StoreCompaction.compact(spark, prefixDir(root, e), Seq("hmod"), upToBatch, fromExclusive = fromExclusive)
    }
  }

  /** Start the streaming ingest over a directory of document parquet
    * files: new files are the batch stream ([[IngestJob.run]]'s discovery
    * model), [[IngestStages.loop]] runs [[processBatch]], checkpointing
    * gives exactly-once per epoch on top of the batch-keyed overwrites.
    */
  def run(
      spark: SparkSession, inDir: String, root: String,
      schema: org.apache.spark.sql.types.StructType,
      textCol: String, idCol: String,
      checkpointDir: String,
      cfg: Config = Config(),
      maxFilesPerTrigger: Int = 100,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Option[Int] = None): StreamingQuery =
    IngestStages.loop(IngestStages.source(spark, schema, maxFilesPerTrigger, inDir),
        checkpointDir, trigger, compactEvery,
        upTo => compactStores(spark, root, upTo, cfg, fromExclusive = -1L)) { (batch, epochId) =>
      processBatch(spark, batch, root, textCol, idCol, epochId, cfg)
    }
}
