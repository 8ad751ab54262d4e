package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The curated PRODUCT table's storage discipline — the serving-side
  * twin of [[StoreCompaction]]. The ingest loops ([[PipelineIngest.run]],
  * [[CurateIngest.run]]) persist each trigger's curated survivors under
  * `outDir/batch_id=<epoch>`; this is the system's most-queried table
  * (the reference's flagship `GET /api/audit/search` reads its analog,
  * `reference/src/services/audit.services.ts:148-163`), and at a
  * 5-minute trigger cadence it accumulates ~100k epoch partitions per
  * year while every uncached newest-first top-K scans all of them. This
  * object closes both scale holes without giving up the product's
  * SEMANTIC `batch_id` (which epoch produced each row — provenance the
  * index stores deliberately drop when they fold):
  *
  *  - WRITE ([[writeEpoch]]): the per-trigger write stamps each row's
  *    epoch into a plain data column `src_batch` alongside the
  *    `batch_id` partition key. Live partitions carry it redundantly
  *    (RLE-dictionary parquet makes a constant column ~free); after a
  *    fold it is the ONLY copy, and [[readProduct]] restores `batch_id`
  *    from it — so folding rewrites layout, never provenance. The write
  *    is bracketed by a `_WRITING` marker (atomic staged rename, content
  *    = the epoch id): a dynamic partition overwrite is not atomic, and
  *    on a failure-replayed trigger it REWRITES an existing partition —
  *    the one window where an external reader could see a torn epoch.
  *  - READ ([[readProduct]]): snapshot-isolated — routes through
  *    [[StoreCompaction.readStore]] (so a racing FOLD serves the
  *    complete pre- or post-fold view via its `_VIEW` manifest), excludes
  *    any `_WRITING` epoch (so a racing WRITE — first write or replay —
  *    serves the complete pre-epoch snapshot; the exclusion is a
  *    partition prune, the torn partition's files are never opened),
  *    and restores the semantic `batch_id` from `src_batch`.
  *  - FOLD ([[compactProduct]]): [[StoreCompaction.compact]] on the
  *    product dir — same staged swap, same `_COMMIT`/`_VIEW`/heal
  *    protocol, same tiered O(those-batches) cadence form — valid here
  *    precisely because `src_batch` preserves what the fold's batch_id
  *    rewrite erases. [[PipelineIngest.run]] folds the product on the
  *    same `compactEvery` cadence as the stores, so a long-running
  *    loop's partition count stays ~B/n + n instead of B.
  *  - SERVE ([[searchProduct]]): the bounded newest-first top-K. The
  *    ingest loops' id-monotonicity gate ([[CurateIngest]]) makes ids a
  *    global arrival order ACROSS epochs, so partitions are
  *    id-disjoint and newest-first ordered: the walk reads partitions
  *    newest-first — each read ONCE, contributing its filtered
  *    top-`needed` rows directly — and STOPS once `limit` rows survive
  *    the filter; every unread partition holds only smaller ids, so
  *    none can displace the found top-K, and the disjoint descending
  *    ranges make the concatenated per-partition prefixes the global
  *    answer with no re-scan. An unfiltered (or unselective) top-100
  *    reads ONE partition instead of the corpus; a selective filter
  *    that starves the walk falls back to the full snapshot scan after
  *    `maxWalk` partitions (bounded probe cost, one fallback job). A
  *    write cycle racing the walk is caught by the walk's own (stricter
  *    than the full read's) seqlock predicate ([[walkDirty]]) and falls
  *    back too.
  *    Fold tiers stay walkable: a tier `batch_id = -(upTo+2)` covers
  *    epochs `(from, upTo]` and the `-1` base covers the oldest prefix,
  *    so segments order newest-first by their covered max epoch.
  *
  * CONTRACT: the walk's early stop AND its per-partition prefix-taking
  * (each walked partition contributes only its top-`needed` rows) are
  * sound ONLY over products written by the gated ingest loops (ids
  * monotone across epochs — enforced at ingest, not re-verified per
  * query; re-checking would cost the full scan the walk exists to
  * avoid). Hand-built products with interleaved id ranges must use
  * [[readProduct]] + a plain sort instead.
  *
  * Reader residual boundaries (same class as [[StoreCompaction]]'s,
  * stated plainly): a fold or write that STARTS after the snapshot
  * check and deletes files a held plan already listed fails LOUDLY
  * (file-not-found) at execution — never silently short.
  */
object ProductStore {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writingPath(outDir: String) = new Path(s"$outDir/_WRITING")
  private def commitPath(outDir: String) = new Path(s"$outDir/_LAST_COMMIT")

  /** Atomic (staged rename) write of a small marker file. */
  private def writeMarker(f: FileSystem, target: Path, content: String): Unit = {
    val staged = new Path(target.toString + ".staging")
    val out = f.create(staged, true)
    out.write(content.getBytes("UTF-8"))
    out.close()
    f.delete(target, false)
    if (!f.rename(staged, target))
      sys.error(s"rename $staged -> $target failed")
  }

  private def readMarker(f: FileSystem, target: Path): Option[String] =
    if (!f.exists(target)) None
    else try {
      val in = f.open(target)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => None
    }

  /** The last committed write's record (`<epochId>@<nonce>`) — what lets
    * a reader detect that an ENTIRE write cycle (marker up → overwrite →
    * marker down) completed while its file listing was in flight, the
    * one window two marker-absence checks cannot see (a replay's
    * overwrite deletes-then-replaces files a slow listing may have
    * caught mid-swap). The nonce distinguishes a same-epoch replay from
    * the original commit.
    */
  private def lastCommit(spark: SparkSession, outDir: String): Option[String] =
    readMarker(fs(spark, outDir), commitPath(outDir))

  private def commitEpoch(rec: String): Long =
    rec.takeWhile(_ != '@').toLong

  /** The cache-key suffix for a product dir, PATH-NORMALIZED
    * (fully-qualified URI): `run(outDir = "/data/out")` and
    * `searchCurated(..., "/data/out/")` must land on the same suffix, or
    * the loop's scoped invalidation silently misses the reader's aliased
    * entries until the TTL runs out. One function builds both the
    * serving key's suffix and the invalidation's.
    */
  def cacheKeySuffix(spark: SparkSession, outDir: String): String =
    "@" + fs(spark, outDir).makeQualified(new Path(outDir)).toUri.toString

  /** The epoch currently being (re)written, if a write is in flight —
    * readers exclude it (the store families' `excludeBatch` discipline,
    * made self-describing for external product readers).
    */
  private[graft] def writingEpoch(spark: SparkSession, outDir: String): Option[Long] =
    readMarker(fs(spark, outDir), writingPath(outDir)).map(_.toLong)

  /** Persist one trigger's curated view under `outDir/batch_id=epochId`
    * — the batch-keyed exactly-once write every loop's outDir uses, plus
    * the two serving-side duties the raw write was missing: the
    * `src_batch` provenance stamp (what lets [[compactProduct]] fold
    * epochs without erasing which epoch produced each row) and the
    * `_WRITING` marker bracket (what lets a reader racing a
    * failure-replayed trigger's partition rewrite serve the complete
    * pre-epoch snapshot instead of a torn partition). `invalidate`
    * clears a serving [[graft.ResultCache]] after the commit — the
    * write-path invalidation hook ([[IngestJob.run]]'s discipline;
    * without it a TTL cache serves results that predate the epoch for
    * up to the full TTL).
    */
  def writeEpoch(spark: SparkSession, view: DataFrame, outDir: String,
                 epochId: Long,
                 invalidate: Option[graft.ResultCache] = None): Unit = {
    val f = fs(spark, outDir)
    f.mkdirs(new Path(outDir))
    writeMarker(f, writingPath(outDir), epochId.toString)
    IngestStages.overwriteParts(
      view.withColumn("src_batch", lit(epochId))
        .withColumn("batch_id", lit(epochId)),
      Seq("batch_id"), outDir)
    // commit record BEFORE the marker comes down: a reader seeing no
    // marker but a changed _LAST_COMMIT knows a full write cycle
    // happened during its listing and excludes the epoch
    writeMarker(f, commitPath(outDir), s"$epochId@${System.nanoTime()}")
    f.delete(writingPath(outDir), false)
    // scoped invalidation: the cache key embeds the NORMALIZED
    // "@<outDir>" ([[cacheKeySuffix]], shared with
    // [[PipelineIngest.searchCurated]]'s key), so one cache serving
    // several product streams only drops THIS stream's entries — and a
    // path alias (trailing slash, file:// URI) cannot strand stale ones
    invalidate.foreach(_.invalidateSuffix(cacheKeySuffix(spark, outDir)))
  }

  /** Restore the semantic `batch_id` (long) from the `src_batch` stamp
    * when present — identity on pre-stamp products (no `src_batch`
    * column), where the partition `batch_id` is still semantic.
    */
  private def restoreBatchId(df: DataFrame): DataFrame =
    if (df.columns.contains("src_batch"))
      df.withColumn("batch_id",
          coalesce(col("src_batch"), col("batch_id")).cast("long"))
        .drop("src_batch")
    else df.withColumn("batch_id", col("batch_id").cast("long"))

  /** Snapshot-isolated read of the whole product — the external reader's
    * replacement for a raw `spark.read.parquet(outDir)`.
    *
    * Normal path (no fold in flight): a per-segment union — each
    * partition read at its own path with its semantic `batch_id`
    * restored ([[readSegment]]), `unionByName(allowMissingColumns =
    * true)` so epochs whose column sets differ (a [[CurateIngest
    * .reidBatch]]'d batch's `orig_id` rides only ITS epochs) null-fill
    * instead of depending on which file's footer wins a whole-dir
    * schema inference. Write isolation is two-layered: the `_WRITING`
    * epoch is excluded up front, and a write cycle that starts AND
    * commits entirely during the listing (marker invisible to both
    * checks) is caught by the `_LAST_COMMIT` record changing — the
    * committed epoch is then excluded too (its live segment's
    * `batch_id` is a per-segment literal, so the exclusion
    * constant-folds that subtree away and its possibly-stale file list
    * is never executed). Either way the reader serves a complete
    * pre-epoch snapshot.
    *
    * Fold-window path (`_VIEW` present): [[StoreCompaction.readStore]]'s
    * manifest snapshot (the fold's own isolation discipline), batch_id
    * restored from the stamp. Folded runs carry the UNION schema of
    * their inputs ([[compactProduct]] null-fill-unions its segments);
    * live epochs that diverge from the manifest's other entries DURING
    * a fold window fail LOUDLY in its union, never silently.
    */
  def readProduct(spark: SparkSession, outDir: String): DataFrame = {
    val f = fs(spark, outDir)
    if (f.exists(new Path(s"$outDir/_VIEW"))) {
      // fold window: the manifest snapshot, with write isolation layered
      // the same way as the normal path — marker-up epochs and an epoch
      // whose commit record changed during the listing are excluded
      // (viaView attaches batch_id as a literal, so the exclusion
      // constant-folds the stale subtree away). Residual: two full write
      // cycles inside one manifest listing are invisible here (the fold
      // window is a short single-writer maintenance span; the normal
      // path below closes this with a retry).
      val commit0 = lastCommit(spark, outDir)
      val before = writingEpoch(spark, outDir)
      val base = StoreCompaction.readStore(spark, outDir)
      val excl = (before.toSeq ++ writingEpoch(spark, outDir).toSeq ++
        lastCommit(spark, outDir).filter(c => !commit0.contains(c))
          .map(commitEpoch).toSeq).distinct
      return restoreBatchId(
        excl.foldLeft(base)((d, e) => d.filter(col("batch_id") =!= e)))
    }
    var attempt = 0
    while (attempt < 3) {
      attempt += 1
      val commit0 = lastCommit(spark, outDir)
      val segs = walkSegments(spark, outDir) // excludes the _WRITING epoch
      if (segs.isEmpty) {
        // zero visible partitions — possibly a single-epoch product whose
        // only partition is mid-(re)write: plain read WITH the writing
        // exclusion (a partition prune, torn files never open); a truly
        // missing dir keeps the plain read's own loud error
        val w = writingEpoch(spark, outDir).toSeq
        return restoreBatchId(w.foldLeft(spark.read.parquet(outDir))(
          (d, e) => d.filter(col("batch_id") =!= e)))
      }
      val df = segs.map { case (id, p) => readSegment(spark, id, p) }
        .reduceLeft((a, b) => a.unionByName(b, allowMissingColumns = true))
      // the snapshot is DIRTY only if a LISTED segment was rewritten
      // under us (its captured file list may be stale): a marker or
      // commit-change naming an epoch we never listed is a brand-new
      // partition — absent from this union, which is exactly the
      // pre-epoch snapshot. Dirty ⇒ re-list (any number of write cycles
      // during a listing converges: each retry starts fresh); three
      // consecutive dirty listings means the product is being rewritten
      // faster than it can be listed — fail loudly, never serve short.
      val segIds = segs.map(_._1).toSet
      val dirty = writingEpoch(spark, outDir).exists(segIds) ||
        lastCommit(spark, outDir).filter(c => !commit0.contains(c))
          .map(commitEpoch).exists(segIds)
      if (!dirty) return df
    }
    sys.error(s"product at $outDir was rewritten during three consecutive " +
      "read listings (replays racing the reader) — retry when the writer " +
      "settles")
  }

  /** Fold committed product epochs in `(fromExclusive, upToBatch]` into
    * one run — [[StoreCompaction.compact]]'s staged swap on the product
    * dir (full fold into the `-1` base, or the O(tier) cadence form).
    * Sound only over [[writeEpoch]]-written products: the `src_batch`
    * stamp is what survives the fold's batch_id rewrite, so its absence
    * means the fold would DESTROY provenance — refused loudly. Same
    * single-writer/committed-only contract as every store fold.
    */
  def compactProduct(spark: SparkSession, outDir: String, upToBatch: Long,
                     fromExclusive: Long = Long.MinValue): Seq[Long] = {
    // heal FIRST (compact would anyway): the fold source below is built
    // from a partition listing, and a crashed prior fold's roll-forward
    // must settle the layout before that listing, not after
    StoreCompaction.heal(spark, outDir)
    // a product that doesn't exist yet (loop started, nothing curated)
    // or holds <2 partitions is a no-op fold — don't touch it
    val segs = walkSegments(spark, outDir)
    if (segs.size < 2) return Seq.empty
    val inRange = segs.filter { case (id, _) =>
      id > fromExclusive && id <= upToBatch }
    if (inRange.size < 2) return Seq.empty
    // PER-PARTITION provenance guard, not whole-dir schema inference
    // (which reads whichever file's footer wins and can pass a mixed
    // store): every partition in the fold range must carry the
    // src_batch stamp — folding a pre-stamp epoch would rewrite its
    // batch_id to the fold id with NO surviving provenance (the silent
    // corruption case on an upgraded deployment's old epochs). Refused
    // loudly; the fix is a one-time rewrite of the offending epochs
    // through writeEpoch (or excluding them via fromExclusive).
    require(writingEpoch(spark, outDir).isEmpty,
      s"compactProduct($outDir) while a write is in flight — the fold is " +
        "single-writer, like every layout move here")
    val reads = inRange.map { case (id, p) => (id, spark.read.parquet(p)) }
    reads.foreach { case (id, df) =>
      require(df.columns.contains("src_batch"),
        s"product partition batch_id=$id of $outDir has no src_batch " +
          "provenance stamp (pre-stamp writer?) — folding it would erase " +
          "its rows' epoch provenance; rewrite that epoch through " +
          "ProductStore.writeEpoch or exclude it via fromExclusive")
    }
    // partitions that legitimately differ in columns (reidBatch's
    // orig_id rides only re-id'd epochs) fold through a null-fill UNION
    // supplied as the stage's source — never the whole-dir read, whose
    // footer-luck schema would silently drop the minority columns (and
    // out-of-range partitions' footers would participate too). The
    // folded run's schema is the union of its inputs'.
    val src = reads.map(_._2)
      .reduceLeft((a, b) => a.unionByName(b, allowMissingColumns = true))
    StoreCompaction.compact(spark, outDir, Seq.empty, upToBatch,
      fromExclusive = fromExclusive, srcOverride = Some(src))
  }

  /** The ingest loops' in-loop product fold: [[compactProduct]] over all
    * live epochs up to `upToBatch`. A REFUSED fold (pre-stamp or
    * mixed-schema epochs in range — compactProduct's loud guards) must
    * not kill the ingest stream over a maintenance optimization: it is
    * logged and skipped, and the loop keeps ingesting.
    */
  def compactOrSkip(spark: SparkSession, outDir: String, upToBatch: Long): Unit =
    try compactProduct(spark, outDir, upToBatch, fromExclusive = -1L)
    catch { case e: IllegalArgumentException =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"product fold of $outDir skipped: ${e.getMessage}")
    }

  /** The max epoch a segment covers — the newest-first walk order: live
    * epochs by id, a tier `-(upTo+2)` by its `upTo`, the `-1` base last
    * (it holds the oldest folded prefix).
    */
  private def coverMax(batchId: Long): Long =
    if (batchId >= 0L) batchId
    else if (batchId <= -2L) -batchId - 2L
    else Long.MinValue // the -1 base

  /** The product's segments (batch partitions), newest-first, with any
    * in-flight `_WRITING` epoch excluded. Empty when the dir is missing.
    */
  private[graft] def walkSegments(spark: SparkSession,
                                  outDir: String): Seq[(Long, String)] = {
    val f = fs(spark, outDir)
    val p = new Path(outDir)
    if (!f.exists(p)) return Seq.empty
    val writing = writingEpoch(spark, outDir)
    f.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(s => (s.getPath.getName.stripPrefix("batch_id=").toLong,
        s.getPath.toString))
      .filterNot { case (id, _) => writing.contains(id) }
      .sortBy { case (id, _) => -coverMax(id) }
  }

  /** One segment as a frame with its semantic `batch_id` restored —
    * reading a single partition dir loses the partition column, so it is
    * re-attached from the dir name (live epochs) or the `src_batch`
    * stamp (folded runs).
    */
  private[graft] def readSegment(spark: SparkSession, id: Long, path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    if (id >= 0L)
      // live epoch: the dir name is authoritative (src_batch duplicates
      // it), and the LITERAL batch_id lets an exclusion filter
      // constant-fold this whole subtree away — the property the
      // seqlock path relies on to never execute a stale file list
      raw.drop("src_batch").withColumn("batch_id", lit(id))
    else if (raw.columns.contains("src_batch"))
      raw.withColumn("batch_id", col("src_batch").cast("long")).drop("src_batch")
    else raw.withColumn("batch_id", lit(id)) // pre-stamp folded run
  }

  /** The walk's post-hoc seqlock predicate: a write racing the walk
    * means a walked segment's rows may have been read torn or
    * momentarily empty — the walk must discard its answer and fall back
    * to the retrying full read. Two triggers:
    *
    *  - a `_WRITING` marker naming a WALKED segment (a marker naming an
    *    unwalked epoch is a brand-new partition mid-write: absent from
    *    the walk's answer, which is exactly the pre-epoch snapshot —
    *    clean);
    *  - ANY change of the `_LAST_COMMIT` record. Stricter than
    *    [[readProduct]]'s walked-ids-only predicate, deliberately: the
    *    record only exposes the LAST commit, so "changed to an unwalked
    *    epoch" does NOT prove no walked epoch committed in between — a
    *    replay tearing walked partition k followed by a brand-new epoch
    *    k+1's commit would mask k behind k+1's record and silently
    *    serve the torn prefix. The walk is eager (collected rows, no
    *    loud-fail-at-execution safety net like the lazy full read), so
    *    any commit activity in its window forfeits the walk; commits
    *    racing a sub-second walk are rare, and the cost is one full
    *    snapshot read.
    */
  private[graft] def walkDirty(spark: SparkSession, outDir: String,
                               commit0: Option[String],
                               walked: Set[Long]): Boolean =
    writingEpoch(spark, outDir).exists(walked) ||
      lastCommit(spark, outDir) != commit0

  /** [[searchProduct]] plus the walk's evidence: `Some(segment ids
    * read)` when the bounded walk answered, `None` when it fell back to
    * the full snapshot scan (fold in flight, empty dir, `maxWalk`
    * partitions starved by a selective filter, or a write cycle racing
    * the walk — [[walkDirty]]). The spec/IO pin that an unfiltered top-K
    * reads one partition asserts on this.
    *
    * ONE scan per walked partition: each partition contributes its
    * filtered top-`needed` directly (`TakeOrderedAndProject` — pushed
    * filter, scan-local heap), COLLECTED as it is read. Sound under the
    * same monotone-id contract as the early stop (the object doc): the
    * walked partitions' id ranges are disjoint and descending, so the
    * concatenation of per-partition top prefixes IS the global top-K
    * prefix — no partition needs re-reading for the final order. The
    * driver holds ≤ `limit` rows total (`needed` shrinks by what each
    * partition supplied), and the returned frame re-serves those local
    * rows without touching parquet again. The previous shape — a
    * per-partition probe `count()` plus a final top-K over a re-scan of
    * the same files — read every walked partition twice.
    *
    * After the walk, the seqlock re-check ([[walkDirty]] — stricter
    * than [[readProduct]]'s, see its doc for why): a trigger replay
    * that starts and commits DURING the walk can make a walked
    * partition read torn or momentarily empty — without the re-check
    * the walk would silently serve older rows as the top-K, the "serve
    * short" case the full read explicitly refuses. Dirty ⇒ fall back to
    * [[readProduct]]'s path, which retries its listing until clean.
    */
  private[graft] def searchProductWalked(
      spark: SparkSession, outDir: String, filters: Map[String, Any],
      idCol: String, limit: Int,
      maxWalk: Int): (DataFrame, Option[Seq[Long]]) = {
    def full() = graft.operators.Search.search(
      readProduct(spark, outDir), filters, idCol, "batch_id", limit)
    // limit 0 answers empty through the same plan shape as before the
    // walk existed (a negative limit throws there, as it always did)
    if (limit <= 0) return (full(), None)
    // fold window in flight: partition dirs are mid-swap — serve the
    // complete manifest snapshot instead of walking a moving layout
    if (fs(spark, outDir).exists(new Path(s"$outDir/_VIEW")))
      return (full(), None)
    // commit record FIRST, then the listing — the same capture order as
    // readProduct, so a full write cycle inside the walk window is
    // visible as a changed record
    val commit0 = lastCommit(spark, outDir)
    val segs = walkSegments(spark, outDir)
    if (segs.isEmpty) return (full(), None)
    var tops = Vector.empty[DataFrame]
    var walked = Vector.empty[Long]
    var found = 0L
    var i = 0
    while (i < segs.size && found < limit && i < maxWalk) {
      val (id, path) = segs(i)
      val seg = readSegment(spark, id, path)
      // this partition's filtered top-`needed` — the single scan of it
      val top = graft.operators.Search.search(
        seg, filters, idCol, "batch_id", (limit - found).toInt)
      val rows = top.collect()
      found += rows.length
      walked :+= id
      tops :+= spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), top.schema)
      i += 1
    }
    if (walkDirty(spark, outDir, commit0, walked.toSet))
      return (full(), None)
    if (found >= limit || i == segs.size) {
      // sound early stop: every unread segment's covered epochs — hence
      // (by the ingest gate's monotone ids) every unread row's id — sit
      // below everything already read
      // allowMissingColumns: epochs may legitimately differ in columns
      // (reidBatch's orig_id rides only re-id'd epochs) — null-fill,
      // never crash the serving read on mixed provenance
      val union = tops
        .reduceLeft((a, b) => a.unionByName(b, allowMissingColumns = true))
      (graft.operators.Search.search(union, filters, idCol, "batch_id", limit),
        Some(walked))
    } else (full(), None)
  }

  /** The bounded newest-first serving read — dynamic conjunctive filters
    * → top-`limit` by `idCol` desc (`batch_id` desc tiebreak), reading
    * only the newest partitions that satisfy it (see the object doc and
    * [[searchProductWalked]]).
    */
  def searchProduct(spark: SparkSession, outDir: String,
                    filters: Map[String, Any], idCol: String,
                    limit: Int = 100, maxWalk: Int = 16): DataFrame =
    searchProductWalked(spark, outDir, filters, idCol, limit, maxWalk)._1
}
