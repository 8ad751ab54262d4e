package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Curation

/** The UNIFIED ingest loop — ONE streaming query, ONE checkpoint, ONE
  * epoch id feeding every store family: each micro-batch is curated
  * against the composed document stores ([[CurateIngest.processBatch]] —
  * fingerprint index, corpus + LSH/prefix/BM25/phrase indexes, near-dup
  * graph), has its text-model counts folded ([[TextModelIngest
  * .processBatch]] — dsir/tagger/LM), and, when it carries vectors,
  * is deduped-and-appended into the embedding store ([[EmbIndexIngest
  * .processBatchDedup]]). This is the reference's actual shape: one
  * handler consumes the queue and serves BOTH event types in a single
  * loop (`reference/src/lambda/processQueue.ts:30-47` switches on the
  * event type inside one Lambda), where the per-family [[CurateIngest
  * .run]] / [[TextModelIngest.run]] / [[EmbIndexIngest.run]] loops are
  * the unbundled halves.
  *
  * Why one loop matters beyond convenience: per-family streams each own
  * a checkpoint, and checkpoints commit independently — after a crash,
  * family A may have committed through batch k while family B stopped at
  * k−1, so "the stores reflect the same prefix of the input" is simply
  * not an invariant four loops can offer. Under a single `foreachBatch`,
  * batch k either commits for EVERY family or replays for every family,
  * and each family's batch-keyed dynamic overwrite (their individual
  * exactly-once contract) absorbs the replay byte-identically — one
  * exactly-once boundary across the whole pipeline.
  *
  * Store layout: each family keeps its own subroot ([[docsRoot]] /
  * [[textRoot]] / [[embRoot]]) — the families' internal layouts are
  * unchanged (every probe/compaction works verbatim against a subroot),
  * and their `config/` dirs cannot collide. Spec-pinned contract
  * (PipelineIngestSpec): N batches through this loop leave every store
  * file-layout- and row-identical to the per-family entry points run
  * over the same batch sequence.
  *
  * Batch routing (the event-type switch):
  *  - DOCUMENT columns (everything but `vecCol`) feed curation and the
  *    text models. Text-model counts fold over the RAW batch — exactly
  *    what a standalone [[TextModelIngest.run]] on the same stream would
  *    count (the equivalence contract). Training the models on curated
  *    SURVIVORS only is a composition the caller owns: point a separate
  *    [[TextModelIngest]] at this loop's curated `outDir`.
  *  - VECTOR rows (non-null `vecCol`) feed the embedding store; a batch
  *    with no vector rows skips the family entirely (no empty epoch
  *    partitions, no bootstrap-on-empty). `dedupMinCosine` selects
  *    dedup-at-ingest ([[EmbIndexIngest.processBatchDedup]]) vs plain
  *    append.
  *
  * Scale shape per batch is the sum of the parts, each already O(batch)
  * + pruned index reads (their scaladocs carry the arguments); nothing
  * here adds a corpus-sized term. The batch is materialized once and
  * every family reads the checkpointed blocks.
  */
object PipelineIngest {

  def docsRoot(root: String): String = s"$root/docs"
  def textRoot(root: String): String = s"$root/text"
  def embRoot(root: String): String = s"$root/emb"

  /** The per-family parameters, carried together so a loop is configured
    * in one place. `dedupMinCosine`: Some(t) drops an incoming vector's
    * semantic near-duplicates (cosine ≥ t against store + batch) before
    * the append. `compactEvery`: Some(n) makes [[run]] TIER-fold every
    * family's last n committed batch partitions at each nth trigger
    * ([[compactStores]] with `fromExclusive` — O(those batches), never
    * O(corpus)), so a long-running loop's partition count stays
    * ~B/n + n instead of B; the loop is the single writer, so the
    * in-loop fold honors [[StoreCompaction]]'s contract by construction
    * (only checkpoint-committed epochs are in range). Full refolds that
    * absorb the tiers stay a maintenance-window [[compactStores]] call.
    * External probes racing a cadence fold read through
    * [[StoreCompaction.readStore]]'s `_VIEW` snapshot manifest (the
    * store read helpers all route through it), so they see the complete
    * pre- or post-fold snapshot rather than a torn store; the narrow
    * residual boundaries are stated on [[StoreCompaction]]'s object doc.
    * `embCuratedOnly`: false (default) appends EVERY non-null-vector row
    * to the embedding store — the per-family equivalence contract (the
    * store ≡ a standalone [[EmbIndexIngest.run]] over the same stream);
    * true gates the append on the trigger's curated-survivor view, so
    * the vector index holds ONLY documents curation kept (the reference
    * analog: the Lambda persists only classified-and-projected records,
    * `processQueue.ts:114-129`). The gate costs one O(batch) left-semi
    * and serializes curate before the embedding stage (text models still
    * overlap it).
    * `warmServe`: after each committed epoch's cache invalidation,
    * pre-warm the serving cache with the UNFILTERED top-100 (the
    * reference's flagship default query, `audit.services.ts:161-162`) —
    * one bounded newest-first walk per trigger (the unselective case
    * reads exactly the one newest partition), so the most common query
    * is always cache-hot instead of paying its walk on the first
    * post-commit ask. No-op without both `outDir` and `invalidate`.
    */
  final case class Config(
      curation: Curation.Config = Curation.Config(),
      partitionMod: Int = 64,
      textModel: TextModelIngest.Config = TextModelIngest.Config(),
      emb: EmbIndexIngest.Config = EmbIndexIngest.Config(),
      dedupMinCosine: Option[Double] = None,
      compactEvery: Option[Int] = None,
      embCuratedOnly: Boolean = false,
      warmServe: Boolean = false)

  /** Ingest one batch into every family; returns the batch's curated
    * view (the same rows [[CurateIngest.curateProbe]] would return
    * against the pre-batch store — survivors with `pred_lang`/`score`).
    *
    * @param vecCol  the optional vector column: None = document-only
    *   pipeline (no embedding family); Some(c) routes rows with a
    *   non-null `c` to the embedding store. The column must exist when
    *   Some — a typo'd name silently dropping every vector is the error
    *   class this require removes.
    * @param targetPred the DSIR target-slice predicate ([[TextModelIngest
    *   .processBatch]]'s contract: a property of the STORE, fixed across
    *   batches).
    * @param labelCol the tagger's training-label column.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, root: String,
                   textCol: String, idCol: String, vecCol: Option[String],
                   targetPred: Column, labelCol: String, epochId: Long,
                   cfg: Config = Config()): DataFrame = {
    vecCol.foreach(c => require(batch.columns.contains(c),
      s"vecCol '$c' is not a batch column (${batch.columns.mkString(", ")})"))
    // one materialization: every family (and the vector-presence check)
    // reads these blocks, not the source
    val b = batch.localCheckpoint(true)
    val docB = vecCol.fold(b)(b.drop(_))
    // the three families write disjoint subroots off the one checkpointed
    // batch — CONCURRENT submission ([[IngestStages]]): the trigger's
    // wall is max(family) instead of sum(family), and each family fans
    // its own independent store writes out the same way underneath
    var curated: DataFrame = null
    val curateStage = "pipeline:curate" -> (() => {
      curated = CurateIngest.processBatch(spark, docB, docsRoot(root),
        textCol, idCol, epochId, cfg.curation, cfg.partitionMod)
    })
    val textStage = "pipeline:text_models" -> (() =>
      TextModelIngest.processBatch(spark, docB, textRoot(root), textCol,
        idCol, targetPred, labelCol, epochId, cfg.textModel))
    // the vector-presence check runs INSIDE the stage: as a sequential
    // pre-check it would be one more unoverlapped per-trigger job —
    // the exact cost class the concurrent stages exist to remove
    def embStage(c: String, gate: Option[DataFrame]) =
      "pipeline:embeddings" -> (() => {
        val raw = b.filter(col(c).isNotNull).select(col(idCol), col(c))
        // embCuratedOnly: index only what curation kept — a left-semi on
        // the trigger's own (checkpointed) survivor view, O(batch).
        // Curation-rejected documents' vectors never reach the store, so
        // the store ≡ EmbIndexIngest over the curated survivor stream
        // (spec-pinned), the composition a training-data pipeline wants
        val vecs = gate.fold(raw)(g =>
          raw.join(g.select(col(idCol)), Seq(idCol), "left_semi"))
        if (!vecs.isEmpty) cfg.dedupMinCosine match {
          case Some(t) =>
            EmbIndexIngest.processBatchDedup(spark, vecs, embRoot(root),
              idCol, c, epochId, t, cfg.emb)
            ()
          case None =>
            EmbIndexIngest.processBatch(spark, vecs, embRoot(root),
              idCol, c, epochId, cfg.emb)
        }
      })
    vecCol match {
      case Some(c) if cfg.embCuratedOnly =>
        // the emb gate DEPENDS on the curate stage's output, so the
        // all-concurrent shape is unavailable: curate runs first, then
        // text models overlap the gated append. The checkpoint makes the
        // survivor view a block read for the gate AND the caller's
        // outDir write (one curation evaluation per trigger, as before)
        IngestStages.inParallel(spark, curateStage)
        curated = curated.localCheckpoint(true)
        IngestStages.inParallel(spark, textStage, embStage(c, Some(curated)))
      case Some(c) =>
        IngestStages.inParallel(spark, curateStage, textStage,
          embStage(c, None))
      case None =>
        IngestStages.inParallel(spark, curateStage, textStage)
    }
    curated
  }

  /** Fold every family's committed batches (`batch_id` in
    * `(fromExclusive, upToBatch]`) — one call for the whole pipeline,
    * same committed-only + single-writer contract as each family's own
    * compaction. `fromExclusive` omitted = full fold into the `-1`
    * bases; set = the O(tier) form ([[StoreCompaction]]). The family
    * folds write disjoint subroots, so they submit concurrently — the
    * same per-job-overhead argument as the ingest stages themselves.
    */
  def compactStores(spark: SparkSession, root: String, upToBatch: Long,
                    cfg: Config = Config(),
                    fromExclusive: Long = Long.MinValue): Unit = {
    val idxCfg = DocIndexIngest.Config(cfg.curation.minhashK,
      cfg.curation.minhashBands, cfg.curation.minJaccPct,
      cfg.curation.maxBucket, cfg.partitionMod)
    IngestStages.inParallel(spark,
      "compact:doc_index" -> (() => DocIndexIngest.compactStores(
        spark, docsRoot(root), upToBatch, idxCfg, fromExclusive)),
      "compact:curate" -> (() => CurateIngest.compactStores(
        spark, docsRoot(root), upToBatch, fromExclusive)),
      "compact:text_models" -> (() => TextModelIngest.compactStores(
        spark, textRoot(root), upToBatch, fromExclusive)),
      "compact:embeddings" -> (() => EmbIndexIngest.compactStore(
        spark, embRoot(root), upToBatch, fromExclusive)))
  }

  /** REBUILD every store family at a FRESH root from a full corpus
    * snapshot — the executable form of the backfill answer in SURVEY
    * §7.4. Late data (a re-crawl, a vendor drop, a migration) cannot
    * stream into the incremental stores under ids below the stored max
    * ([[CurateIngest]]'s id-monotonicity gate raises, by design); the
    * 100 TB posture is append-only ingest plus a PERIODIC full
    * re-curation, and this is that job: one epoch-0 [[processBatch]]
    * over the whole corpus (so stage order inside the batch is
    * irrelevant — the gate never compares within a batch), which by the
    * probe ≡ batch-curate contract leaves every store exactly the batch
    * pipeline's state, with every frozen model (df dictionary, IVF
    * centroids, PQ codebooks) trained on the FULL corpus rather than
    * whatever first batch bootstrapped the old root — this is also the
    * recommended model-refresh path when the incremental root's frozen
    * epoch has drifted.
    *
    * The one non-obvious step is the REBASE: a resumed stream over the
    * new root starts a fresh checkpoint whose epoch ids restart at 0,
    * and its batch-keyed dynamic overwrite of `batch_id=0` would
    * silently replace the entire rebuilt corpus on its first trigger.
    * So after the build, every store's lone `batch_id=0` partition is
    * renamed to the `batch_id=-1` base ([[StoreCompaction.rebase]] —
    * O(1) per store, no rows rewritten), the one partition no future
    * epoch can name. `_REBUILT` at the root is the job's commit marker,
    * created last: a root missing it after a rebuild attempt is a
    * crashed rebuild — delete the root and re-run (the job is one
    * replayable batch; there is no salvageable partial state worth a
    * staged-swap protocol).
    *
    * Resuming ingest: start [[run]] with the new root, a FRESH
    * checkpoint dir, and a FRESH input directory receiving only
    * post-rebuild files. Pointing it at the old input dir would replay
    * already-rebuilt documents — the monotone gate makes that mistake
    * LOUD (the first trigger raises and the stream cannot progress; its
    * concurrently-committed family partials are batch-keyed, so a later
    * correct epoch 0 replaces them rather than duplicating).
    *
    * `outDir`, when set, persists the corpus's curated view (survivors
    * + `pred_lang`/`score`, `batch_id=0`) — written BEFORE the rebase,
    * because the view's plan reads the pre-rename store paths. No view
    * is returned for the same reason: after the rebase a lazy plan over
    * the old paths would read nothing; probe the rebuilt root instead.
    */
  def rebuild(spark: SparkSession, corpus: DataFrame, newRoot: String,
              textCol: String, idCol: String, vecCol: Option[String],
              targetPred: Column, labelCol: String,
              cfg: Config = Config(),
              outDir: Option[String] = None): Unit = {
    val f = new Path(newRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!f.exists(new Path(newRoot)),
      s"rebuild targets a FRESH root, but $newRoot exists — a rebuild " +
        "missing its _REBUILT marker is a crashed attempt with no " +
        "salvageable state: delete the root and re-run")
    // in-progress marker FIRST, cleared LAST: its survival without
    // _REBUILT is what lets [[run]] refuse to resume over a half-rebased
    // root (crash between rebase renames) instead of trusting operator
    // discipline — a fresh-checkpoint epoch 0 would dynamic-overwrite any
    // store still resting at batch_id=0, the exact clobber the rebase
    // exists to prevent
    f.mkdirs(new Path(newRoot))
    f.create(new Path(s"$newRoot/_REBUILDING"), true).close()
    val view = processBatch(spark, corpus, newRoot, textCol, idCol, vecCol,
      targetPred, labelCol, epochId = 0L, cfg)
    // the product needs the same rebase as the stores: a resumed
    // fresh-checkpoint stream's epoch 0 would dynamic-overwrite a
    // product resting at batch_id=0, silently replacing the entire
    // rebuilt corpus view with one trigger's survivors. src_batch keeps
    // the semantic epoch through the rename.
    outDir.foreach { d =>
      ProductStore.writeEpoch(spark, view, d, 0L)
      StoreCompaction.rebase(spark, d, 0L)
    }
    storeDirs(spark, newRoot).foreach(StoreCompaction.rebase(spark, _, 0L))
    f.create(new Path(s"$newRoot/_REBUILT"), true).close()
    f.delete(new Path(s"$newRoot/_REBUILDING"), false)
    ()
  }

  /** Refuse to touch a root whose rebuild crashed mid-flight:
    * `_REBUILDING` without `_REBUILT` means [[rebuild]] died somewhere
    * between its first store write and the commit marker — possibly
    * mid-REBASE, with some stores at `batch_id=-1` and others still at
    * `batch_id=0`, where a resumed stream's fresh-checkpoint epoch 0
    * would silently dynamic-overwrite the un-rebased stores. There is no
    * salvageable partial state (the rebuild is one replayable batch):
    * delete the root and re-run. Checked by [[run]] at start; exposed for
    * probes that want the same protection before reading.
    */
  def requireNotMidRebuild(spark: SparkSession, root: String): Unit = {
    val f = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(new Path(s"$root/_REBUILDING")) &&
        !f.exists(new Path(s"$root/_REBUILT")))
      sys.error(s"$root is a CRASHED rebuild (_REBUILDING present, " +
        "_REBUILT absent) — its stores may be half-rebased and a resumed " +
        "stream would clobber them; delete the root and re-run rebuild")
  }

  /** The reference's flagship read path — dynamic conjunctive filters →
    * newest-first top-K (`audit.services.ts:109-163`,
    * [[graft.operators.Search.search]]) — served over the unified loop's
    * curated PRODUCT stream (the `outDir` that [[run]] persists per
    * trigger): ingest-to-serving closed in one library. Newest-first =
    * `idCol` desc (the loop's id-monotonicity gate makes ids a global
    * arrival order) with `batch_id` desc as the formal tiebreak.
    *
    * BOUNDED at scale ([[ProductStore.searchProduct]]): the monotone ids
    * make epoch partitions id-disjoint and newest-first ordered, so the
    * read walks partitions newest-first and stops once `limit` rows
    * survive the filter — an unfiltered top-100 reads ONE partition
    * instead of every epoch the loop ever committed; a selective filter
    * falls back to the full snapshot scan after `maxWalk` partitions.
    * Within each touched partition the filter+sort still push into the
    * parquet scan and plan as `TakeOrderedAndProject` — scan-local
    * top-K, no global sort. Reads are snapshot-isolated against a
    * racing fold or epoch replay ([[ProductStore.readProduct]]'s
    * `_VIEW`/`_WRITING` discipline). `cache`: route through a
    * [[graft.ResultCache]] to mirror the reference's Redis TTL path
    * (key includes the outDir, so one cache can serve several product
    * streams); pass the same cache to [[run]]'s `invalidate` and
    * staleness becomes per-commit instead of TTL-bounded.
    */
  def searchCurated(spark: SparkSession, outDir: String,
                    filters: Map[String, Any], idCol: String,
                    limit: Int = 100,
                    cache: Option[graft.ResultCache] = None,
                    maxWalk: Int = 16): DataFrame = {
    def run() = ProductStore.searchProduct(spark, outDir, filters, idCol,
      limit, maxWalk)
    cache.fold(run())(c =>
      c.getOrCompute(c.keyOf(filters, limit) +
        ProductStore.cacheKeySuffix(spark, outDir))(run()))
  }

  /** Maintenance posture of every store under the pipeline root — one
    * [[StoreCompaction.Stats]] row per store dir (its doc says how to
    * read the numbers: live batches trending up ⇒ raise the cadence;
    * tier runs accumulating ⇒ schedule a full refold). Pure listing, no
    * Spark jobs — safe to poll from a monitor while the loop runs: a
    * cadence fold racing the listing can momentarily skew a count (the
    * walk never throws on vanished paths), which is fine for the
    * monitoring numbers these are.
    */
  def storeStats(spark: SparkSession, root: String): Seq[StoreCompaction.Stats] =
    storeDirs(spark, root).map(StoreCompaction.stats(spark, _))

  /** Every batch-keyed store dir of every family under the pipeline root
    * (the compactable set — shared by [[storeStats]] and [[healStores]]).
    */
  private def storeDirs(spark: SparkSession, root: String): Seq[String] = {
    val docs = docsRoot(root); val text = textRoot(root); val emb = embRoot(root)
    val docDirs = Seq(
      DocIndexIngest.corpusDir(docs), DocIndexIngest.lshDir(docs),
      DocIndexIngest.pairsDir(docs), DocIndexIngest.bm25PostingsDir(docs),
      DocIndexIngest.bm25StatsDir(docs), DocIndexIngest.posPostingsDir(docs),
      GraphIngest.degreesDir(docs), GraphIngest.remapDir(docs),
      CurateIngest.fpDir(docs), CurateIngest.metaDir(docs)) ++
      DocIndexIngest.currentEpoch(spark, docs)
        .map(e => DocIndexIngest.prefixDir(docs, e))
    val textDirs = Seq(
      TextModelIngest.dsirDir(text), TextModelIngest.taggerDir(text),
      TextModelIngest.lmC1Dir(text), TextModelIngest.lmC2Dir(text))
    val embDirs = EmbIndexIngest.currentEpoch(spark, emb).toSeq.flatMap(e =>
      Seq(EmbIndexIngest.vectorsDir(emb, e), EmbIndexIngest.codesDir(emb, e)))
    docDirs ++ textDirs ++ embDirs
  }

  /** Roll every family store forward/back out of a crashed compaction —
    * [[StoreCompaction.heal]] on each store dir (idempotent; one FS
    * existence check per store when there is nothing to do). The ingest
    * loop heals on its own next trigger, so this exists for the window
    * where the loop is DOWN after a crashed cadence fold and the layout
    * should be settled BEFORE restart. (Reading alone no longer needs
    * it: a crashed fold's surviving `_VIEW` manifest keeps
    * [[StoreCompaction.readStore]]-routed probes complete mid-swap —
    * heal settles the layout, it does not rescue readers.) Same
    * single-writer contract as the fold itself — never run concurrently
    * with a live loop (heal would complete a swap the writer is midway
    * through).
    */
  def healStores(spark: SparkSession, root: String): Unit =
    storeDirs(spark, root).foreach(StoreCompaction.heal(spark, _))

  /** Start the unified streaming loop over a directory of parquet files
    * whose schema is the document columns plus (optionally) the vector
    * column — the [[DocIndexIngest.run]] discovery model with ONE
    * checkpoint for the whole pipeline. `outDir`, when set, persists each
    * batch's curated view partitioned by `batch_id` (the queryable
    * product stream, [[CurateIngest.run]]'s contract) through
    * [[ProductStore.writeEpoch]] — provenance-stamped, write-bracketed,
    * and folded on the same `compactEvery` cadence as the stores (the
    * serving table must not accumulate one partition per trigger
    * forever; [[ProductStore]] restores the semantic `batch_id` on
    * read). `invalidate`: a serving [[graft.ResultCache]] cleared after
    * every committed epoch ([[IngestJob.run]]'s write-path hook) — a
    * [[searchCurated]] cache is otherwise TTL-stale across commits.
    */
  def run(spark: SparkSession, inDir: String, root: String,
          schema: org.apache.spark.sql.types.StructType,
          textCol: String, idCol: String, vecCol: Option[String],
          targetPred: Column, labelCol: String,
          checkpointDir: String,
          cfg: Config = Config(),
          outDir: Option[String] = None,
          maxFilesPerTrigger: Int = 100,
          trigger: Trigger = Trigger.AvailableNow(),
          invalidate: Option[graft.ResultCache] = None): StreamingQuery = {
    requireNotMidRebuild(spark, root)
    // the curated outDir folds on the stores' cadence — its semantic
    // batch_id survives as the src_batch stamp ([[ProductStore]]), so the
    // serving table's partition count stays bounded without erasing
    // provenance
    def fold(upTo: Long): Unit = {
      compactStores(spark, root, upTo, cfg, fromExclusive = -1L)
      outDir.foreach(ProductStore.compactOrSkip(spark, _, upTo))
    }
    IngestStages.loop(IngestStages.source(spark, schema, maxFilesPerTrigger, inDir),
        checkpointDir, trigger, cfg.compactEvery, fold) { (batch, epochId) =>
      val view = processBatch(spark, batch, root, textCol, idCol, vecCol,
        targetPred, labelCol, epochId, cfg)
      outDir.foreach(d => ProductStore.writeEpoch(spark, view, d, epochId,
        invalidate))
      // cache warmer (cfg.warmServe): the flagship unfiltered top-100
      // goes cache-hot right after the commit — one bounded walk (the
      // unselective case reads only the just-written newest partition).
      // Same rule as the product fold: a failed OPTIMIZATION must not
      // kill the ingest stream — log and keep ingesting; the next ask
      // just pays its own walk.
      if (cfg.warmServe)
        for (d <- outDir; c <- invalidate)
          try searchCurated(spark, d, Map.empty, idCol, limit = 100,
            cache = Some(c))
          catch { case e: Throwable =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"cache warm of $d skipped: ${e.getMessage}")
          }
    }
  }
}
