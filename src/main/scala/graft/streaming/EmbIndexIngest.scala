package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Similarity

/** EMBEDDING ingestion with INCREMENTAL IVF-index maintenance — the
  * vector twin of [[DocIndexIngest]]: [[graft.operators.Similarity
  * .annIvfProbe]] reads a "stored" cell-assigned table, and this job is
  * what actually STORES it. Each micro-batch of vectors is assigned to
  * its nearest coarse centroid (the centroid matrix is a plan-time
  * literal — the batch never shuffles) and appended to the assigned
  * store partitioned by `cell`, so an ANN probe reads only its `nprobe`
  * cell partitions off disk — the `nprobe/nlist` scan fraction
  * [[Similarity.annIvf]]'s scaladoc promises for the 100 TB layout,
  * maintained continuously instead of rebuilt per query.
  *
  * Store layout under `root/ivf/epoch=E/` (all parquet):
  *  - `cents/`   — the epoch's coarse centroids `(cell, vec)` — KBs;
  *  - `vectors/` — the assigned vectors `(id, vec, label?, cell)`,
  *    partitioned by `(batch_id, cell)`;
  *  - `books/`   — the epoch's PQ codebooks `(sub, cell, vec)` — KBs;
  *  - `codes/`   — the PQ code table `(id, code, cell)`, partitioned
  *    by `(batch_id, cell)` like the vectors — the compressed
  *    first-pass scan of [[Similarity.annIvfPqProbe]];
  *  - `_DONE`    — created last; readers resolve the highest done epoch.
  *
  * Epoch discipline (same argument as [[DocIndexIngest]]'s df
  * dictionary): assignments are only meaningful under the centroids that
  * produced them, so the two halves live together in one epoch directory
  * and swap ATOMICALLY via the `_DONE` marker. Centroids are frozen from
  * the first batch (k-means over a deterministic sample); later batches
  * assign under the frozen matrix — still a correct inverted file, just
  * a drifting-quality one (recall erodes if the distribution moves).
  * [[refreshCentroids]] retrains on the full stored corpus and reassigns
  * everything under a fresh epoch — the compaction analog; a crash
  * leaves an ignored orphan epoch, never a torn index.
  *
  * Exactly-once: vector writes partition by `batch_id` first and use
  * dynamic-partition overwrite, so a replayed epoch rewrites ITS
  * partitions; the bootstrap centroid train is deterministic (md5
  * sample, fixed seeds), so a replayed bootstrap rewrites identical
  * bytes.
  *
  * Scale shape per batch: O(batch · nlist) multiply-adds, no shuffle, no
  * driver state beyond the KB-scale centroid matrix; nothing is
  * O(corpus) except [[refreshCentroids]], which is the point of having
  * epochs.
  */
object EmbIndexIngest {

  /** Index parameters — fixed per store. `nlist` is the cell count (and
    * the partition fan-out of the assigned store); a probe's `nprobe` is
    * chosen at query time.
    */
  final case class Config(nlist: Int = 16, iters: Int = 2, sampleMod: Int = 20,
                          multiEps: Double = 0.15, m: Int = 8, ksub: Int = 32)

  def epochDir(root: String, epoch: Long): String = s"$root/ivf/epoch=$epoch"
  def centsDir(root: String, epoch: Long): String = s"${epochDir(root, epoch)}/cents"
  def vectorsDir(root: String, epoch: Long): String = s"${epochDir(root, epoch)}/vectors"
  def booksDir(root: String, epoch: Long): String = s"${epochDir(root, epoch)}/books"
  def codesDir(root: String, epoch: Long): String = s"${epochDir(root, epoch)}/codes"
  def metaDir(root: String, epoch: Long): String = s"${epochDir(root, epoch)}/meta"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markDone(spark: SparkSession, dir: String): Unit =
    fs(spark, dir).create(new Path(s"$dir/_DONE"), true).close()

  /** Highest epoch whose `_DONE` marker exists; None before bootstrap. */
  def currentEpoch(spark: SparkSession, root: String): Option[Long] = {
    val base = new Path(s"$root/ivf")
    val f = fs(spark, base.toString)
    if (!f.exists(base)) None
    else f.listStatus(base).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(_.getPath.getName.stripPrefix("epoch=").toLong)
      .filter(e => f.exists(new Path(s"${epochDir(root, e)}/_DONE")))
      .maxOption
  }

  private def writeCents(
      spark: SparkSession, cents: Array[Array[Double]], dir: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def writeBooks(
      spark: SparkSession, books: Array[Array[Array[Double]]], dir: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (bk, j) =>
      bk.zipWithIndex.map { case (c, cell) => (j, cell, c.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Persist the epoch's BUILD parameters beside its centroids — the
    * assignment geometry (`multiEps` above all) is part of the stored
    * layout exactly like the centroid matrix is, so a reader must never
    * have to GUESS it from a default (a probe assigning the batch under
    * a different margin than the stored rows silently mis-pairs at the
    * cell boundary — the r12 budget-desync class). Deterministic bytes:
    * a replayed bootstrap rewrites the identical row.
    */
  private def writeMeta(spark: SparkSession, cfg: Config, dir: String): Unit = {
    import spark.implicits._
    Seq((cfg.nlist, cfg.iters, cfg.sampleMod, cfg.multiEps, cfg.m, cfg.ksub))
      .toDF("nlist", "iters", "sampleMod", "multiEps", "m", "ksub")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** The store's build-time multi-assign margin, read from the epoch's
    * meta — `None` on a store written before meta existed (pre-r13;
    * [[refreshCentroids]] backfills it on the next refresh).
    */
  def storedMultiEps(spark: SparkSession, root: String): Option[Double] = {
    val e = currentEpoch(spark, root).getOrElse(
      sys.error(s"no done IVF epoch under $root"))
    if (!fs(spark, metaDir(root, e)).exists(new Path(metaDir(root, e)))) None
    else Some(spark.read.parquet(metaDir(root, e))
      .select(col("multiEps")).head().getDouble(0))
  }

  /** Driver-side cache of the per-epoch-frozen literal matrices: every
    * trigger needs cents+books on the driver, and re-collecting KB-scale
    * data that BY THE EPOCH DISCIPLINE cannot change between refreshes
    * cost two Spark jobs per micro-batch — the per-trigger-overhead
    * class [[IngestStages]] exists to remove. Keyed by (dir, dir mtime):
    * any rewrite of the dir (bootstrap, refresh, migration backfill, an
    * external rebuild at the same path) bumps the mtime and misses —
    * no write-path invalidation hooks to forget. Non-local filesystems
    * report mtime 0 and bypass the cache (safe fallback).
    */
  private val matrixCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), AnyRef]
  private def cachedMatrix[T <: AnyRef](dir: String)(load: => T): T = {
    val mtime = new java.io.File(dir).lastModified()
    if (mtime == 0L) load
    else {
      if (matrixCache.size > 64) matrixCache.clear()
      matrixCache.getOrElseUpdate((dir, mtime), load).asInstanceOf[T]
    }
  }

  /** The current done epoch's PQ codebooks `[sub][cell][dim]` — KBs, the
    * driver-side half of the composed IVF-PQ probe. Cached per (dir,
    * mtime); callers must not mutate the returned arrays.
    */
  def readBooks(spark: SparkSession, root: String): Array[Array[Array[Double]]] = {
    val e = currentEpoch(spark, root).getOrElse(
      sys.error(s"no done IVF epoch under $root"))
    cachedMatrix(booksDir(root, e)) {
      spark.read.parquet(booksDir(root, e))
        .orderBy("sub", "cell").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](2).toArray))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.map(_._2)).toArray
    }
  }

  /** The current done epoch's centroid matrix, cell-ordered — the KBs a
    * probe needs on the driver for cell selection. Cached per (dir,
    * mtime); callers must not mutate the returned arrays.
    */
  def readCentroids(spark: SparkSession, root: String): Array[Array[Double]] = {
    val e = currentEpoch(spark, root).getOrElse(
      sys.error(s"no done IVF epoch under $root"))
    cachedMatrix(centsDir(root, e)) {
      spark.read.parquet(centsDir(root, e))
        .orderBy("cell").collect()
        .map(_.getSeq[Double](1).toArray)
    }
  }

  /** The current done epoch's assigned vectors (with their `cell` prune
    * column). `excludeBatch` as in [[DocIndexIngest.readCorpus]] — the
    * epoch-replay guard for probes that run before this epoch's append
    * commits.
    */
  def readVectors(spark: SparkSession, root: String,
                  excludeBatch: Long = Long.MinValue): DataFrame = {
    val e = currentEpoch(spark, root).getOrElse(
      sys.error(s"no done IVF epoch under $root"))
    StoreCompaction.readStore(spark, vectorsDir(root, e))
      .filter(col("batch_id") =!= excludeBatch)
  }

  /** The current done epoch's PQ code table `(id, code, cell)` — the
    * compressed first-pass scan of the composed IVF-PQ probe, laid out
    * by `(batch_id, cell)` exactly like the vector store so the same
    * cell filter partition-prunes both.
    */
  def readCodes(spark: SparkSession, root: String,
                excludeBatch: Long = Long.MinValue): DataFrame = {
    val e = currentEpoch(spark, root).getOrElse(
      sys.error(s"no done IVF epoch under $root"))
    StoreCompaction.readStore(spark, codesDir(root, e))
      .filter(col("batch_id") =!= excludeBatch)
  }

  /** Vector rows with NO code row — nonzero only on a store migrated to
    * PQ mid-life (pre-migration batches have vectors but no codes until
    * [[refreshCentroids]] rebuilds both): exactly the rows
    * [[Similarity.annIvfPqProbe]] silently omits, made detectable. Two
    * count jobs over the pruned stores — an operational health check,
    * not a per-probe cost.
    */
  def codesLag(spark: SparkSession, root: String): Long = {
    val e = currentEpoch(spark, root).getOrElse(
      sys.error(s"no done IVF epoch under $root"))
    val vectors = StoreCompaction.readStore(spark, vectorsDir(root, e)).count()
    val codes =
      if (fs(spark, codesDir(root, e)).exists(new Path(codesDir(root, e))))
        StoreCompaction.readStore(spark, codesDir(root, e)).count()
      else 0L
    vectors - codes
  }

  /** Bootstrap epoch 0 from the first batch (unit-space rows `b` with
    * `__u`): coarse centroids AND PQ codebooks train together and
    * freeze — codes are only meaningful under the codebooks that
    * produced them (the df-dictionary epoch argument), so the two
    * literal matrices live and swap as one. Deterministic (md5 sample,
    * fixed seeds): a replayed bootstrap rewrites identical bytes.
    * No-op when an epoch already exists. REFUSES an empty training frame:
    * kmeans/PQ on zero rows return empty matrices, and freezing those
    * under `_DONE` bricks the store permanently (every later batch dies
    * at `books.head`, and refreshCentroids can't recover without a
    * vectors dir) — callers skip the trigger instead and bootstrap from
    * the first trainable batch.
    */
  private def bootstrapIfEmpty(spark: SparkSession, b: DataFrame,
                               root: String, idCol: String,
                               cfg: Config): Unit =
    if (currentEpoch(spark, root).isEmpty) {
      require(!b.isEmpty,
        s"refusing to bootstrap the IVF store at $root from an empty " +
          "frame — an empty frozen epoch would brick the store")
      // the coarse-centroid and PQ-codebook trainings are INDEPENDENT
      // (both read the checkpointed batch; each is its own md5 sample +
      // driver-looped rounds of small jobs), and so are the three
      // KB-scale epoch writes — submit each group concurrently
      // ([[IngestStages]]'s per-job-overhead argument: the bootstrap's
      // cost is ~a dozen tiny sequential jobs, and overlapping the two
      // training pipelines halves that wall without changing a byte of
      // either result). markDone stays LAST, after every write settles.
      var cents: Array[Array[Double]] = null
      var books: Array[Array[Array[Double]]] = null
      IngestStages.inParallel(spark,
        "embidx:train_centroids" -> (() => {
          cents = Similarity.kmeansCentroids(
            b, idCol, "__u", cfg.nlist, cfg.iters, cfg.sampleMod)
        }),
        "embidx:train_codebooks" -> (() => {
          books = Similarity.pqCodebooks(
            b, idCol, "__u", cfg.m, cfg.ksub, cfg.iters, cfg.sampleMod)
        }))
      IngestStages.inParallel(spark,
        "embidx:write_cents" -> (() => writeCents(spark, cents, centsDir(root, 0L))),
        "embidx:write_books" -> (() => writeBooks(spark, books, booksDir(root, 0L))),
        "embidx:write_meta" -> (() => writeMeta(spark, cfg, metaDir(root, 0L))))
      markDone(spark, epochDir(root, 0L))
    }

  /** One micro-batch: bootstrap centroids if this is the first batch,
    * then assign the batch under the current epoch's (frozen) matrix and
    * fold it into the assigned store.
    *
    * Store contract: this is a COSINE index, not an archive — zero-norm
    * batch vectors are dropped at the door ([[Similarity.withUnit]]
    * filters them: no direction ⇒ no cell assignment, no cosine, never a
    * probe result). A consumer needing the full vector set including
    * degenerate rows must keep the raw batch stream, not read this store.
    */
  def processBatch(
      spark: SparkSession, batch: DataFrame, root: String,
      idCol: String, vecCol: String,
      epochId: Long, cfg: Config = Config()): Unit = {
    // self-repair a compaction that crashed mid-swap (no-op otherwise)
    currentEpoch(spark, root).foreach { e =>
      StoreCompaction.heal(spark, vectorsDir(root, e))
      StoreCompaction.heal(spark, codesDir(root, e))
    }
    // spherical assignment (train + assign on unit vectors, store the RAW
    // vector + cell) — keeps the stored layout consistent with the cosine
    // probe-cell selection in [[Similarity.annIvfProbe]]; see [[Similarity
    // .annIvf]] for the recall argument
    val b = Similarity.withUnit(batch, vecCol).localCheckpoint(true)
    if (currentEpoch(spark, root).isEmpty && b.isEmpty) {
      // nothing trainable (empty batch, or every vector zero-norm):
      // defer the bootstrap to the first trainable batch — freezing an
      // epoch from this frame would brick the store (see bootstrapIfEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"IVF store at $root not bootstrapped: the batch has no " +
          "nonzero-norm vectors to train from; epoch deferred")
      return
    }
    bootstrapIfEmpty(spark, b, root, idCol, cfg)
    val epoch = currentEpoch(spark, root).get
    // MIGRATION: a store created before the PQ-codes epoch half existed
    // has cents/ but no books/ — train and write the missing codebooks
    // from this batch (same frozen-from-bootstrap discipline; existing
    // vectors simply have no codes until the next refreshCentroids).
    // The gap must be LOUD, not a comment: until the refresh, every
    // vector ingested pre-migration is invisible to annIvfPqProbe
    // (whose candidates come solely from codes/), so log the lagging
    // row count here and expose it queryably via [[codesLag]].
    if (!fs(spark, booksDir(root, epoch))
        .exists(new Path(booksDir(root, epoch)))) {
      writeBooks(spark, Similarity.pqCodebooks(
        b, idCol, "__u", cfg.m, cfg.ksub, cfg.iters, cfg.sampleMod),
        booksDir(root, epoch))
      val lag = spark.read.parquet(vectorsDir(root, epoch)).count()
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"IVF store at $root migrated to PQ: $lag pre-migration vector " +
          "rows have no codes — annIvfPqProbe silently omits them until " +
          "refreshCentroids backfills codes/ (check codesLag)")
    }
    val cents = readCentroids(spark, root)
    val books = readBooks(spark, root)
    // the dedup probes validate width; the plain append path must too —
    // a width-mismatched batch null-poisons graft_dot, lands every row
    // under cell=-1, and the probes (cells in [0, nlist)) never see them:
    // silent data loss instead of this error
    requireSameDim(b, vecCol, cents.head.length, s"the store at $root")
    val assigned = Similarity.assignCellsMulti(
        Similarity.pqEncode(b, "__u", books), "__u", cents, cfg.multiEps)
      .drop("__u")
      .withColumn("batch_id", lit(epochId))
      // lay the batch out by its write key BEFORE materializing: the
      // assignment is a NARROW pipeline over the batch's N input splits,
      // so the two (batch_id, cell)-partitioned appends below would each
      // emit up to N × nlist files of a few rows — ~1000 tiny files +
      // commit renames per trigger at N=32/nlist=16, the write storm
      // that made this entry the era-drift bellwether (r16 verdict). One
      // batch-sized exchange buys one file per touched cell per batch —
      // the layout the probe's cell prune and compactStore's per-cell
      // fold both want, at any corpus scale (batches stay micro-sized).
      .repartition(col("cell"))
      .localCheckpoint(true) // feeds both stores; assign+encode run once
    // two independent appends over the checkpointed assignment — submit
    // concurrently ([[IngestStages]]'s per-trigger-overhead argument)
    IngestStages.inParallel(spark,
      "embidx:vectors_append" -> (() =>
        assigned.drop("code")
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id", "cell")
          .parquet(vectorsDir(root, epoch))),
      "embidx:codes_append" -> (() =>
        assigned.select(col(idCol), col("code"), col("cell"), col("batch_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id", "cell")
          .parquet(codesDir(root, epoch))))
  }

  /** Fold committed `batch_id ≤ upToBatch` partitions of the current
    * epoch's assigned store into one `batch_id=-1` base, one file run
    * per `cell` — the probe's per-cell open() count drops from
    * O(batches) to O(1) ([[StoreCompaction]]; same committed-only and
    * single-writer contract as [[DocIndexIngest.compactStores]]).
    * `fromExclusive` selects the O(tier) tier form.
    */
  def compactStore(spark: SparkSession, root: String, upToBatch: Long,
                   fromExclusive: Long = Long.MinValue): Unit =
    currentEpoch(spark, root).foreach { e =>
      StoreCompaction.compact(spark, vectorsDir(root, e), Seq("cell"), upToBatch, fromExclusive = fromExclusive)
      StoreCompaction.compact(spark, codesDir(root, e), Seq("cell"), upToBatch, fromExclusive = fromExclusive)
    }

  /** INCREMENTAL SemDeDup — the near-duplicate pairs an incoming batch
    * forms, found against the STORED cell layout without re-clustering
    * or re-pairing the corpus: the vector twin of [[DocIndexIngest]]'s
    * minhash probe, and the [[CurateIngest]] composed-store pattern on
    * the embedding side. Per probe: the batch is assigned under the
    * store's frozen centroids (plan-time literal matrix — the batch
    * never shuffles), the touched cells are collected (bounded by
    * `nlist` BY CONSTRUCTION — cell ids live in `[0, nlist)`, so driver
    * state is the index parameter, never the data), and ONLY those cell
    * partitions of the vector store are read (partition-pruned,
    * plan-pinned). Pairwise work is |batch-slice|·|touched-cell rows|
    * dot folds plus the batch's own Σ|cell|² — never corpus².
    *
    * Result contract (spec-pinned): exactly [[graft.operators.Similarity
    * .semanticNearDupWithCents]] over (stored ∪ batch) under the store's
    * centroids and `eps`, RESTRICTED to pairs with ≥1 batch member —
    * stored↔stored pairs are the amortized ingest-side result, not
    * re-derived per probe. Soundness is exact (real cosine on the raw
    * vectors ≥ `minCosine`); recall inherits SemDeDup's cell-boundary
    * approximation, softened by the store's multi-assignment (a
    * boundary pair is caught when EITHER side replicated across it).
    * Batch ids are assumed distinct from stored ids (the monotone-id
    * discipline of the ingest paths); to probe a batch ALREADY ingested
    * (the replay case), pass its `excludeBatch` so it is not paired
    * against its own stored rows. CAVEAT: `excludeBatch` identifies the
    * rows by their `batch_id` partition, so it only works BEFORE
    * [[compactStore]] folds that batch into the `batch_id=-1` base —
    * compaction's committed-only/single-writer contract
    * ([[StoreCompaction]]) already forbids folding a batch whose trigger
    * might still replay, and this probe inherits exactly that boundary
    * (a compacted-then-replayed batch would self-pair at cos 1).
    *
    * The batch assigns under the store's own build-time margin: `eps`
    * defaults to the epoch's persisted `multiEps` ([[storedMultiEps]] —
    * the margin is part of the stored geometry exactly like the
    * centroids), falling back to `Config().multiEps` with a WARN on a
    * pre-meta store. Pass `eps` explicitly only to probe a deliberately
    * different margin.
    */
  def semanticDedupProbe(spark: SparkSession, root: String, batch: DataFrame,
                         idCol: String, vecCol: String, minCosine: Double,
                         eps: Option[Double] = None,
                         excludeBatch: Long = Long.MinValue): DataFrame = {
    val cents = readCentroids(spark, root)
    requireSameDim(batch, vecCol, cents.head.length, s"the store at $root")
    val (bCells, stored) = batchCellsAndStoredSlice(
      spark, root, batch, idCol, vecCol, cents,
      resolveEps(spark, root, eps), excludeBatch)
    pairsInvolvingBatch(bCells, stored, idCol, vecCol, minCosine)
  }

  /** The batch side must assign under the margin the STORED rows were
    * assigned with: explicit `eps` wins (a deliberate override), else
    * the epoch's persisted `multiEps`, else — on a pre-meta store — the
    * default with a WARN (the margin is part of the stored geometry
    * exactly like the centroid matrix; guessing it silently mis-pairs
    * at cell boundaries).
    */
  private def resolveEps(spark: SparkSession, root: String,
                         eps: Option[Double]): Double =
    eps.orElse(storedMultiEps(spark, root)).getOrElse {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"IVF store at $root has no meta/ (built pre-r13): assuming " +
          s"default multiEps ${Config().multiEps} - refreshCentroids " +
          "backfills the meta")
      Config().multiEps
    }

  /** The probe prelude, shared with [[semanticDedupLosers]]: assign the
    * batch under the given centroids (multi-assign at `eps`), collect
    * its touched cells (≤ nlist by construction) and return the
    * cell-pruned stored slice beside the assigned batch.
    */
  private def batchCellsAndStoredSlice(
      spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String, cents: Array[Array[Double]],
      eps: Double, excludeBatch: Long): (DataFrame, DataFrame) = {
    val bCells = Similarity.assignCellsMulti(
        Similarity.withUnit(batch.select(col(idCol), col(vecCol)), vecCol),
        "__u", cents, eps)
      .drop("__u")
      .localCheckpoint(true) // feeds the touched-cell collect AND both pair joins
    val touched = bCells.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ nlist values by construction
    // a just-bootstrapped epoch has centroids but no vector rows yet
    // (processBatchDedup probes between bootstrap and first write) —
    // an absent vectors dir is an EMPTY stored side, not an error
    val e = currentEpoch(spark, root).getOrElse(
      sys.error(s"no done IVF epoch under $root"))
    val vDir = vectorsDir(root, e)
    val stored =
      if (!fs(spark, vDir).exists(new Path(vDir)) || touched.isEmpty)
        bCells.limit(0)
      else readVectors(spark, root, excludeBatch)
        .filter(col("cell").isInCollection(touched))
    (bCells, stored)
  }

  /** The batch ids a dedup-at-ingest drops: every batch vector within
    * `minCosine` of a STORED vector (the stored copy always wins —
    * first-ingested-wins needs no id assumption, the probe KNOWS which
    * side each pair member came from; this INCLUDES a same-id
    * re-delivery, the at-least-once upstream's most common duplicate —
    * the batch copy loses to its stored self instead of double-storing
    * the id), plus the larger id of any within-batch near-dup pair
    * (min-id-wins inside the batch, the deterministic tiebreak). One
    * output column: `idCol`.
    */
  def semanticDedupLosers(spark: SparkSession, root: String, batch: DataFrame,
                          idCol: String, vecCol: String, minCosine: Double,
                          eps: Option[Double] = None,
                          excludeBatch: Long = Long.MinValue): DataFrame = {
    val cents = readCentroids(spark, root)
    requireSameDim(batch, vecCol, cents.head.length, s"the store at $root")
    val (bCells, stored) = batchCellsAndStoredSlice(
      spark, root, batch, idCol, vecCol, cents,
      resolveEps(spark, root, eps), excludeBatch)
    // deliberately NO id_q =!= id_s filter: a same-id redelivery IS a
    // loser to its stored copy (cos ≈ 1)
    val vsStored = crossPairsSideTagged(bCells, stored, idCol, vecCol, minCosine)
      .select(col("id_q").as(idCol))
    val withinBatch = Similarity.blockedNearDup(
        bCells.select(col("cell"), col(idCol), col(vecCol)),
        "cell", idCol, vecCol, minCosine)
      .select(col("id_b").as(idCol))
    vsStored.unionByName(withinBatch).distinct()
  }

  /** The batch↔stored cell-cohabit join both the pair report and the
    * loser set read: one row per cohabiting (batch `id_q`, stored
    * `id_s`) pair with true cosine ≥ `minCosine`, SIDE-TAGGED and
    * unfiltered on id equality (the pair report drops degenerate
    * same-id rows; the loser set keeps them — a redelivery loses to
    * its stored self). `graft_dot` folds in index order and double
    * multiplication commutes, so the cosine is bit-identical to
    * [[Similarity.blockedNearDup]]'s.
    */
  private def crossPairsSideTagged(bCells: DataFrame, storedCells: DataFrame,
                                   idCol: String, vecCol: String,
                                   minCosine: Double): DataFrame = {
    import graft.functions.TextFns.{dot, l2norm}
    val bSide = bCells.select(col("cell"), col(idCol).as("id_q"),
      col(vecCol).as("vec_q"), l2norm(col(vecCol)).as("nrm_q"))
    val sSide = storedCells.select(col("cell"), col(idCol).as("id_s"),
      col(vecCol).as("vec_s"), l2norm(col(vecCol)).as("nrm_s"))
    bSide.join(sSide, Seq("cell"))
      .withColumn("sim",
        dot(col("vec_q"), col("vec_s")) / (col("nrm_q") * col("nrm_s")))
      .filter(col("sim") >= minCosine)
  }

  /** The in-memory twin of [[semanticDedupProbe]] — the geometry a store
    * bootstrapped from `corpus` would hold (centroids trained exactly as
    * [[processBatch]]'s bootstrap trains them), with the corpus assigned
    * in-memory instead of read off disk. This is the declared
    * `q_semantic_dedup_incr` form; the disk probe is spec-pinned equal
    * to it over a real store. Assumes `corpus` and `batch` ids are
    * disjoint.
    */
  def semanticDedupProbeWithCorpus(corpus: DataFrame, batch: DataFrame,
                                   idCol: String, vecCol: String,
                                   minCosine: Double,
                                   cfg: Config = Config()): DataFrame = {
    val cu = Similarity.withUnit(corpus.select(col(idCol), col(vecCol)), vecCol)
      .localCheckpoint(true) // feeds the k-means sample AND the assignment
    cu.select(col(vecCol)).limit(1).collect().headOption.foreach { r =>
      requireSameDim(batch, vecCol, r.getSeq[Any](0).length, "the corpus")
    }
    val cents = Similarity.kmeansCentroids(
      cu, idCol, "__u", cfg.nlist, cfg.iters, cfg.sampleMod)
    val storedCells = Similarity.assignCellsMulti(cu, "__u", cents, cfg.multiEps)
      .drop("__u")
    val bCells = Similarity.assignCellsMulti(
        Similarity.withUnit(batch.select(col(idCol), col(vecCol)), vecCol),
        "__u", cents, cfg.multiEps)
      .drop("__u")
    pairsInvolvingBatch(bCells, storedCells, idCol, vecCol, minCosine)
  }

  /** Refuse a batch whose vector width differs from the reference
    * dimension: `graft_dot` returns NULL on a length mismatch, which the
    * assignment fold silently turns into cell −1 for every row — zero
    * batch↔stored pairs with no error (the null-poisoning class the
    * sign-LSH width fix and `pqCodebooks`' require already guard
    * against). One `limit(1)` row peek on the (tiny, checkpointed-or-
    * filtered) batch side; an empty batch passes trivially.
    */
  private def requireSameDim(batch: DataFrame, vecCol: String,
                             expected: Int, what: String): Unit =
    batch.select(col(vecCol)).limit(1).collect().headOption.foreach { r =>
      val w = Option(r.getSeq[Any](0)).map(_.length).getOrElse(expected)
      require(w == expected,
        s"batch $vecCol is $w-dimensional but $what is $expected-dimensional" +
          " - graft_dot would null-poison the cell assignment silently")
    }

  /** The shared pairwise core: batch↔stored pairs via a cell-cohabit
    * join plus batch↔batch pairs via [[Similarity.blockedNearDup]],
    * normalized to one row per pair ([[Similarity.dedupPairRows]] —
    * multi-assignment can find a pair in both shared cells). The cosine
    * is computed on the RAW vectors with the operand order of
    * blockedNearDup (`graft_dot` folds in index order and double
    * multiplication commutes, so the two paths are bit-identical).
    */
  private def pairsInvolvingBatch(bCells: DataFrame, storedCells: DataFrame,
                                  idCol: String, vecCol: String,
                                  minCosine: Double): DataFrame = {
    val bs = crossPairsSideTagged(bCells, storedCells, idCol, vecCol, minCosine)
      .filter(col("id_q") =!= col("id_s")) // degenerate same-id rows are
      // not pairs (they ARE losers — see semanticDedupLosers)
      .select(col("cell"),
        least(col("id_q"), col("id_s")).as("id_a"),
        greatest(col("id_q"), col("id_s")).as("id_b"),
        floor(col("sim") * 100).cast("long").as("sim_x100"))
    val bb = Similarity.blockedNearDup(
      bCells.select(col("cell"), col(idCol), col(vecCol)),
      "cell", idCol, vecCol, minCosine)
    Similarity.dedupPairRows(bs.unionByName(bb))
  }

  /** Roll the index to a fresh epoch: retrain centroids on the FULL
    * stored corpus and reassign every vector under them, landing both
    * halves in the new epoch directory before its `_DONE` marker (same
    * atomicity argument as [[DocIndexIngest.refreshDictionary]]). Run
    * between triggers with every ingested batch CHECKPOINT-COMMITTED
    * (single-writer + committed-only, [[StoreCompaction]]'s contract:
    * folding a replayable batch's vectors into the `-1` base duplicates
    * them when the batch replays — doubled probe rows, self-pairs at
    * cos 1); the old epoch stays fully consistent until the marker lands
    * and is dead afterwards.
    */
  def refreshCentroids(
      spark: SparkSession, root: String, idCol: String, vecCol: String,
      newEpoch: Long, cfg: Config = Config()): Unit = {
    require(currentEpoch(spark, root).forall(_ < newEpoch),
      s"newEpoch $newEpoch must exceed the current epoch")
    // the stored layout is multi-assigned (one row per (vector, cell)) —
    // collapse back to one row per vector before retraining/reassigning,
    // else replicas bias the k-means sample and re-replicate quadratically
    val all = Similarity.withUnit(
      readVectors(spark, root).drop("cell", "batch_id")
        .dropDuplicates(idCol), vecCol)
      .localCheckpoint(true)
    // independent trainings / independent KB-scale writes — concurrent,
    // exactly like the bootstrap (see [[bootstrapIfEmpty]])
    var cents: Array[Array[Double]] = null
    var books: Array[Array[Array[Double]]] = null
    IngestStages.inParallel(spark,
      "embidx:train_centroids" -> (() => {
        cents = Similarity.kmeansCentroids(
          all, idCol, "__u", cfg.nlist, cfg.iters, cfg.sampleMod)
      }),
      "embidx:train_codebooks" -> (() => {
        books = Similarity.pqCodebooks(
          all, idCol, "__u", cfg.m, cfg.ksub, cfg.iters, cfg.sampleMod)
      }))
    IngestStages.inParallel(spark,
      "embidx:write_cents" -> (() => writeCents(spark, cents, centsDir(root, newEpoch))),
      "embidx:write_books" -> (() => writeBooks(spark, books, booksDir(root, newEpoch))),
      "embidx:write_meta" -> (() => writeMeta(spark, cfg, metaDir(root, newEpoch))))
    // cell-keyed layout before the two writes, as in [[processBatch]] —
    // but the refresh rewrites the WHOLE corpus, so keying by `cell`
    // alone would funnel everything through ≤ nlist tasks with unbounded
    // per-task rows and one unbounded file per cell (r17 verdict /
    // ADVICE). A deterministic secondary split key fans each cell out
    // over `cellSplits` subtasks — derived from the session's
    // parallelism, not a constant, so the layout adapts to the machine —
    // and `maxRecordsPerFile` bounds file sizes exactly like
    // [[StoreCompaction.compact]] (§2.5/§6). Probes read directories,
    // so the extra files per cell only ADD read parallelism.
    val cellSplits = math.max(1L,
      2L * spark.sparkContext.defaultParallelism / math.max(1, cfg.nlist))
    val reassigned = Similarity.assignCellsMulti(
        Similarity.pqEncode(all, "__u", books), "__u", cents, cfg.multiEps)
      .drop("__u")
      .withColumn("batch_id", lit(-1L))
      .repartition(col("cell"),
        pmod(graft.functions.TextFns.h60(col(idCol).cast("string")),
          lit(cellSplits)))
      .localCheckpoint(true)
    IngestStages.inParallel(spark,
      "embidx:refresh_vectors" -> (() =>
        reassigned.drop("code")
          .write.mode("overwrite")
          .option("maxRecordsPerFile", "1000000")
          .partitionBy("batch_id", "cell")
          .parquet(vectorsDir(root, newEpoch))),
      "embidx:refresh_codes" -> (() =>
        reassigned.select(col(idCol), col("code"), col("cell"), col("batch_id"))
          .write.mode("overwrite")
          .option("maxRecordsPerFile", "1000000")
          .partitionBy("batch_id", "cell")
          .parquet(codesDir(root, newEpoch))))
    markDone(spark, epochDir(root, newEpoch))
  }

  /** DEDUP-AT-INGEST: drop an incoming batch's semantic near-duplicates
    * BEFORE they enter the store — the [[CurateIngest]] pattern on the
    * vector side, composed from the pieces above. The batch is assigned
    * under the store's geometry (epoch 0 bootstraps from the RAW batch
    * first — deterministic, so a replay retrains identical bytes; the
    * sampled k-means is insensitive to the duplicates it trains over),
    * [[semanticDedupLosers]] names the drops (stored copy always wins;
    * min id wins within the batch — PAIRWISE mode, the
    * `Curation.Config(transitive=false)` analog: a loser's own loser
    * stays dropped, greedy and order-free), and only the survivors are
    * ingested. Returns the kept view (survivor rows of `batch`).
    *
    * Replay: the losers probe excludes this epoch's own partitions, so
    * a replayed trigger recomputes the identical survivor set and
    * rewrites identical store bytes (the [[processBatch]] guarantee,
    * preserved through the dedup).
    */
  def processBatchDedup(
      spark: SparkSession, batch: DataFrame, root: String,
      idCol: String, vecCol: String, epochId: Long,
      minCosine: Double, cfg: Config = Config()): DataFrame = {
    // the bootstrap frame is only materialized when there IS no epoch —
    // a steady-state trigger must not pay a full batch scan for a no-op
    if (currentEpoch(spark, root).isEmpty) {
      val u = Similarity.withUnit(batch, vecCol).localCheckpoint(true)
      if (u.isEmpty) {
        // nothing trainable: no epoch, no cosine geometry — no losers
        // identifiable and nothing enters the store (zero-norm rows are
        // dropped at the door by contract). Returning the batch unchanged
        // matches the steady-state meaning of `kept`: rows that are not
        // near-duplicates (landing is the store's own concern).
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"IVF store at $root not bootstrapped: the batch has no " +
            "nonzero-norm vectors to train from; epoch deferred")
        return batch
      }
      bootstrapIfEmpty(spark, u, root, idCol, cfg)
    }
    val losers = semanticDedupLosers(spark, root, batch, idCol, vecCol,
      minCosine, excludeBatch = epochId)
    val kept = batch.join(losers, Seq(idCol), "left_anti")
      .localCheckpoint(true) // feeds the store writes AND the returned view
    processBatch(spark, kept, root, idCol, vecCol, epochId, cfg)
    kept
  }

  /** Start the streaming ingest over a directory of embedding parquet
    * files — new files are the batch stream, [[IngestStages.loop]] runs
    * [[processBatch]] (or [[processBatchDedup]] when `dedupMinCosine` is
    * set), checkpointing gives exactly-once per epoch on top of the
    * batch-keyed overwrites (the [[DocIndexIngest.run]] model).
    */
  def run(
      spark: SparkSession, inDir: String, root: String,
      schema: org.apache.spark.sql.types.StructType,
      idCol: String, vecCol: String,
      checkpointDir: String,
      cfg: Config = Config(),
      maxFilesPerTrigger: Int = 100,
      trigger: Trigger = Trigger.AvailableNow(),
      dedupMinCosine: Option[Double] = None,
      compactEvery: Option[Int] = None): StreamingQuery =
    IngestStages.loop(IngestStages.source(spark, schema, maxFilesPerTrigger, inDir),
        checkpointDir, trigger, compactEvery,
        upTo => compactStore(spark, root, upTo, fromExclusive = -1L)) { (batch, epochId) =>
      dedupMinCosine match {
        case Some(t) =>
          processBatchDedup(spark, batch, root, idCol, vecCol, epochId, t, cfg)
        case None =>
          processBatch(spark, batch, root, idCol, vecCol, epochId, cfg)
      }
    }
}
