package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for the batch-accumulating index stores — the
  * maintenance half the streaming ingest jobs need at scale. Both
  * [[DocIndexIngest]] (corpus / lsh / prefix) and [[EmbIndexIngest]]
  * (vectors) append one `batch_id=<epoch>` partition per micro-batch:
  * exactly-once-friendly (a replayed epoch overwrites only ITS
  * partition), but at a 5-minute trigger that is ~100k directories per
  * store-year, and a probe that prunes to one `bmod`/`hmod`/`cell` class
  * still opens one file PER BATCH inside it — listing and open() cost
  * grows O(batches) while the data volume doesn't. Folding committed
  * batches into a single `batch_id=-1` base restores O(1) files per
  * prune class without touching a single row's content.
  *
  * The fold is CONTENT-PRESERVING BY CONSTRUCTION — it rewrites layout,
  * never rows — so each store compacts independently (no cross-store
  * atomicity needed: corpus/lsh/prefix stay mutually consistent because
  * none of their rows change). `batch_id = -1` never collides with a
  * real epoch id, so the replay guard (`excludeBatch` pruning in the
  * readers) keeps working; correspondingly, ONLY COMMITTED batches may
  * be folded: a batch whose streaming checkpoint has not committed could
  * replay, and its replayed overwrite of `batch_id=k` would duplicate
  * rows already folded into the base. Run between triggers with the
  * stream stopped (single writer — same contract as
  * [[IngestJob.compactStore]] and [[DocIndexIngest.refreshDictionary]]).
  *
  * Crash safety is a staged swap with a roll-forward marker:
  *
  *  1. STAGE   — write the folded run under `<dir>.tmp/batch_id=<target>`
  *               (the −1 base, or a tier id), then create
  *               `<dir>.tmp/_COMMIT` (atomic create, content = the
  *               target id + the folded batch ids) LAST;
  *  2. ROTATE  — move each folded `batch_id=k` dir into `<dir>.bak/`;
  *  3. PROMOTE — move the staged base into the primary;
  *  4. CLEAN   — delete `.bak`, then `.tmp` (the marker dies last).
  *
  * A crash anywhere is recovered by [[heal]]: no `_COMMIT` ⇒ the stage
  * was incomplete and the primary untouched — roll BACK (drop `.tmp`);
  * `_COMMIT` present ⇒ the staged base is complete — roll FORWARD
  * (finish rotate/promote/clean; every step is an idempotent
  * rename-if-exists). The ingest jobs call [[heal]] before touching a
  * store, so a crashed compaction self-repairs on the next batch.
  *
  * TIERED folds (`fromExclusive` > Long.MinValue) are the 100 TB-cadence
  * form: a full refold rewrites the whole store — O(corpus) — which is a
  * maintenance-window operation, not something a loop can afford every N
  * triggers. A tier fold rewrites ONLY the real-epoch partitions in
  * `(fromExclusive, upToBatch]` into one run at `batch_id =
  * [[tierBatchId]](upToBatch)` — O(those batches), independent of corpus
  * size — so partition count after B batches at cadence N is B%N live
  * batches + B/N tier runs (+ the base), LSM-style two-level, while the
  * readers stay oblivious: they union all partitions and exclude only
  * the replaying epoch, and tier ids (≤ −2) collide with neither real
  * epochs nor the −1 base. `fromExclusive ≥ −1` keeps prior tiers and
  * the base out of a tier's range by construction; a later FULL fold
  * (`fromExclusive` omitted) absorbs tiers and base alike. Same staged
  * swap, same marker (which records the fold's target id), same [[heal]].
  *
  * READER boundary: the swap is rename-based, not atomic — between the
  * rotate (sources move to `.bak`) and the promote (staged run lands),
  * a raw `spark.read.parquet(dir)` in another process sees the folded
  * rows missing, with no error. The writing loop itself is safe (its
  * fold completes before its own store reads), and crash recovery is
  * safe ([[heal]]); for EXTERNAL probes the store read helpers route
  * through [[readStore]], the minimal manifest-committed form of what
  * Delta/Iceberg-style snapshot logs solve in general: during a fold
  * window a `_VIEW` manifest (written atomically right after the stage
  * commits, deleted right after the promote) names every partition of
  * the CURRENT snapshot — unfolded partitions at their primary paths,
  * the folded run at its staged path — and [[readStore]] resolves
  * through it (with promote-aware fallback), so a probe racing the fold
  * sees the complete pre- or post-fold snapshot, never the gap. A
  * CRASHED fold's surviving manifest likewise gives probes the complete
  * post-fold view while the loop is down (the stage committed before
  * the manifest existed). Residual boundaries, stated plainly: (a) a
  * probe whose plan LISTED source files pre-fold but executes after the
  * fold's cleanup deleted them fails LOUDLY (file-not-found), never
  * silently short; (b) a fold that starts and fully completes inside
  * the few milliseconds between [[readStore]]'s manifest check and its
  * directory listing is undetectable — fold duration (a data rewrite)
  * exceeds that window in any real store.
  */
object StoreCompaction {

  /** The folded base partition's id: below any real epoch id. */
  val BaseBatchId: Long = -1L

  /** A tier run's partition id: unique per `upToBatch`, ≤ −2 (never the
    * base, never a real epoch). One tier per `upToBatch` — re-running
    * the same fold is a no-op (its sources are gone), but two
    * OVERLAPPING tier ranges ending at the same epoch would collide and
    * fail loudly on the promote rename.
    */
  def tierBatchId(upToBatch: Long): Long = -(upToBatch + 2L)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpDir(dir: String) = s"$dir.tmp"
  private def bakDir(dir: String) = s"$dir.bak"
  private def marker(dir: String) = new Path(s"${tmpDir(dir)}/_COMMIT")
  private def viewPath(dir: String) = new Path(s"$dir/_VIEW")

  /** Write the fold-window snapshot manifest: one `<batchId>\t<path>`
    * line per partition of the current snapshot. Atomic (staged file +
    * rename), so a reader sees the old manifest, the new one, or none —
    * never a torn one. Underscore-prefixed, so partition discovery on
    * the primary ignores it.
    */
  private def writeView(f: FileSystem, dir: String,
                        entries: Seq[(Long, String)]): Unit = {
    val stagedV = new Path(s"$dir/_VIEW.staging")
    val out = f.create(stagedV, true)
    out.write(entries.map { case (id, p) => s"$id\t$p" }
      .mkString("\n").getBytes("UTF-8"))
    out.close()
    f.delete(viewPath(dir), false)
    renameOrThrow(f, stagedV, viewPath(dir))
  }

  private def readView(f: FileSystem, dir: String): Option[Seq[(Long, String)]] =
    if (!f.exists(viewPath(dir))) None
    else try {
      val in = f.open(viewPath(dir))
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toSeq
        finally in.close()
      Some(lines.map { l =>
        val i = l.indexOf('\t')
        (l.substring(0, i).toLong, l.substring(i + 1))
      })
    } catch {
      // the manifest vanished between the check and the open: the fold
      // finished — the primary is complete again, fall to a plain read
      case _: java.io.FileNotFoundException => None
    }

  /** Snapshot-isolated read of a batch-keyed store — what every store
    * read helper calls instead of a raw `spark.read.parquet(dir)`. With
    * no fold in flight (no `_VIEW`), it IS the plain read, same plan,
    * same pruning. During a fold window it unions exactly the manifest's
    * partitions, resolving each entry at its named path or (for the
    * folded run, after the promote renamed it home) at its primary
    * `batch_id=` dir — the complete pre- or post-fold snapshot, never
    * the rotate→promote gap. Nested prune partitions (`bmod`/`hmod`/
    * `cell`) are discovered per entry, so class pruning survives;
    * `batch_id` is re-attached per entry (column ORDER can differ from
    * the plain read — select by name, as every probe does).
    */
  def readStore(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val f = fs(spark, dir)
    def viaView(entries: Seq[(Long, String)]) = {
      require(entries.nonEmpty, s"empty _VIEW manifest at $dir")
      // mirror discovery's inferred partition type (int for id values
      // that fit, long otherwise — uniform across the union)
      val idType = if (entries.forall(_._1.isValidInt)) "int" else "bigint"
      val parts = entries.flatMap { case (id, p) =>
        val named = new Path(p)
        val home = new Path(s"$dir/batch_id=$id")
        val resolved =
          if (f.exists(named)) Some(named)
          else if (f.exists(home)) Some(home)
          else None
        // an unresolvable entry means the fold finished AND a later
        // layout move took the partition — single-writer makes that a
        // stale manifest bug; fail loudly rather than return short
        if (resolved.isEmpty)
          sys.error(s"_VIEW entry batch_id=$id of $dir resolves nowhere " +
            s"(tried $named and $home) — stale manifest?")
        resolved.map(r => spark.read.parquet(r.toString)
          .withColumn("batch_id", lit(id).cast(idType)))
      }
      parts.reduceLeft((a, b) => a.unionByName(b, allowMissingColumns = false))
    }
    readView(f, dir) match {
      case Some(entries) => viaView(entries)
      case None =>
        val plain = spark.read.parquet(dir) // lists files eagerly HERE
        // seqlock-style re-check: a fold that began during the listing
        // has its _VIEW up now (the manifest spans the whole swap)
        readView(f, dir) match {
          case Some(entries) => viaView(entries)
          case None => plain
        }
    }
  }

  private def batchIds(f: FileSystem, dir: String): Seq[Long] = {
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
  }

  private def renameOrThrow(f: FileSystem, src: Path, dst: Path): Unit = {
    if (!f.rename(src, dst))
      sys.error(s"rename $src -> $dst failed")
  }

  /** STAGE: write the folded base (every `batch_id` in `(fromExclusive,
    * upToBatch]`, including a previous `-1` base when `fromExclusive` is
    * MinValue — a full fold) under `<dir>.tmp`, commit-marked.
    * Package-private so the crash spec can stop exactly here. Returns
    * the folded batch ids (empty = nothing worth folding: fewer than two
    * batch partitions in range).
    *
    * `subCols` are the store's prune columns (`bmod` / `hmod` / `cell`):
    * the base keeps them as partition columns and lands ONE file run per
    * class (`repartition` on them; `maxRecordsPerFile` re-splits a class
    * that outgrows a single healthy file). A store with no prune column
    * sizes its file count off the folded row count instead.
    */
  private[graft] def stage(
      spark: SparkSession, dir: String, subCols: Seq[String],
      upToBatch: Long, maxRecordsPerFile: Long = 1000000L,
      fromExclusive: Long = Long.MinValue,
      srcOverride: Option[org.apache.spark.sql.DataFrame] = None): Seq[Long] = {
    val tiered = fromExclusive != Long.MinValue
    if (tiered) require(fromExclusive >= BaseBatchId && upToBatch >= 0L,
      s"a tier fold covers committed real epochs only, got " +
        s"($fromExclusive, $upToBatch]")
    val baseId = if (tiered) tierBatchId(upToBatch) else BaseBatchId
    val f = fs(spark, dir)
    val folded = batchIds(f, dir)
      .filter(id => id > fromExclusive && id <= upToBatch).sorted
    if (folded.size < 2) return Seq.empty
    // srcOverride: the caller supplies the in-range rows itself (MUST
    // cover exactly the partitions in (fromExclusive, upToBatch]) —
    // exists for stores whose partitions can legitimately differ in
    // columns ([[ProductStore.compactProduct]] null-fill-unions its
    // segments), where the plain whole-dir read below would resolve the
    // schema by whichever file's footer wins inference
    val src = srcOverride.getOrElse(spark.read.parquet(dir)
      .filter(col("batch_id") > fromExclusive && col("batch_id") <= upToBatch))
    val base = src.drop("batch_id").withColumn("batch_id", lit(baseId))
    val sized =
      if (subCols.nonEmpty) base.repartition(subCols.map(col): _*)
      else {
        val n = src.count()
        base.repartition(math.max(1, ((n + maxRecordsPerFile - 1)
          / maxRecordsPerFile).toInt))
      }
    f.delete(new Path(tmpDir(dir)), true)
    sized.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .partitionBy("batch_id" +: subCols: _*)
      .parquet(tmpDir(dir))
    val out = f.create(marker(dir), true)
    out.write((s"base=$baseId" +: folded.map(_.toString))
      .mkString("\n").getBytes("UTF-8"))
    out.close()
    // open the snapshot window: from here until the promote lands, a
    // concurrent [[readStore]] resolves the post-fold snapshot (unfolded
    // partitions in the primary + the folded run in the stage) instead
    // of racing the rotate. Written AFTER the marker: a manifest implies
    // a committed stage, so a crashed fold's survivors stay readable.
    val unfolded = batchIds(f, dir).filterNot(folded.contains)
    writeView(f, dir,
      unfolded.map(k => (k, s"$dir/batch_id=$k")) :+
        (baseId, s"${tmpDir(dir)}/batch_id=$baseId"))
    folded
  }

  /** ROTATE + PROMOTE + CLEAN — resumable: every step is skipped when a
    * prior (crashed) attempt already performed it.
    */
  private[graft] def finish(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, dir)
    if (!f.exists(marker(dir))) return
    val in = f.open(marker(dir))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toSeq
      finally in.close()
    // first marker line names the fold's target partition (a tier id or
    // the -1 base); the rest are the folded source ids
    val (baseId, folded) = lines.headOption match {
      case Some(h) if h.startsWith("base=") =>
        (h.stripPrefix("base=").toLong, lines.tail.map(_.toLong))
      case _ => (BaseBatchId, lines.map(_.toLong))
    }
    val bak = new Path(bakDir(dir))
    val staged = new Path(s"${tmpDir(dir)}/batch_id=$baseId")
    // rotate ONLY while the staged run still exists: once the promote
    // rename has consumed it, `dir/batch_id=<baseId>` IS the new run — a
    // resumed rotation would move it into `.bak` (it is in `folded` when
    // an old base was refolded) and the cleanup would then destroy the
    // only copy
    if (f.exists(staged)) {
      if (!f.exists(bak)) f.mkdirs(bak)
      folded.foreach { k =>
        val src = new Path(s"$dir/batch_id=$k")
        if (f.exists(src))
          renameOrThrow(f, src, new Path(s"${bakDir(dir)}/batch_id=$k"))
      }
      // the promote target must be GONE here (a full fold's old -1 base
      // is in `folded` and was just rotated; a tier's id is fresh). If it
      // still exists, this is a colliding fold (two tier ranges ending at
      // the same epoch) — and Hadoop rename(src, existing-dir) does NOT
      // fail, it silently NESTS src inside, hiding the staged rows from
      // partition discovery and then deleting their sources with `.bak`.
      // Refuse before that can happen; nothing has been lost at this
      // point (primary rows live in `.bak`, staged rows in `.tmp`).
      val dst = new Path(s"$dir/batch_id=$baseId")
      if (f.exists(dst))
        sys.error(s"compaction promote target $dst already exists — " +
          "colliding fold (two tier ranges ending at the same epoch?); " +
          s"sources are preserved under ${bakDir(dir)} and ${tmpDir(dir)}")
      renameOrThrow(f, staged, dst)
    }
    // the promote landed (or a resumed finish found it already home):
    // the primary is complete again — close the snapshot window BEFORE
    // the cleanup deletes the staged path a live manifest still names
    // (a reader holding the old manifest resolves the folded run at its
    // primary home via [[readStore]]'s fallback)
    f.delete(viewPath(dir), false)
    f.delete(bak, true)
    f.delete(new Path(tmpDir(dir)), true)
    ()
  }

  /** Fold every committed `batch_id` in `(fromExclusive, upToBatch]`
    * partition of `dir` into one run: the `batch_id=-1` base when
    * `fromExclusive` is omitted (a FULL fold — O(store), absorbs old
    * tiers and base), or a fresh [[tierBatchId]] run otherwise (a TIER
    * fold — O(those batches), the in-loop cadence form; see the object
    * doc). No-op when fewer than two partitions are in range.
    * Single-writer; see the object doc for the contract.
    */
  def compact(spark: SparkSession, dir: String, subCols: Seq[String],
              upToBatch: Long, maxRecordsPerFile: Long = 1000000L,
              fromExclusive: Long = Long.MinValue,
              srcOverride: Option[org.apache.spark.sql.DataFrame] = None): Seq[Long] = {
    heal(spark, dir)
    val folded = stage(spark, dir, subCols, upToBatch, maxRecordsPerFile,
      fromExclusive, srcOverride)
    if (folded.nonEmpty) finish(spark, dir)
    folded
  }

  /** REBASE a single-epoch store: rename its lone committed real-epoch
    * partition `batch_id=<epochId>` to the −1 base — an O(1) metadata
    * move, no row rewrite (the partition value lives in the directory
    * name, not the files, so the rename IS the rewrite). Exists for
    * [[PipelineIngest.rebuild]]: a rebuilt root's resumed stream starts
    * a FRESH checkpoint whose epoch ids restart at 0, and its batch-keyed
    * dynamic overwrite of `batch_id=0` would silently REPLACE the entire
    * rebuilt corpus on the first trigger — and any later id is reachable
    * after enough triggers, so no real-epoch id is a safe resting place.
    * The base is the one partition no epoch can name. Refuses a store
    * holding any OTHER batch partition (including an existing base):
    * rebase is a bootstrap step over a one-batch store, not a fold —
    * [[compact]] is the general form. Single-writer, like every layout
    * move here; a missing partition (a store this corpus never touched)
    * is a no-op.
    */
  def rebase(spark: SparkSession, dir: String, epochId: Long): Unit = {
    require(epochId >= 0L,
      s"rebase moves a real (non-negative) epoch partition, got $epochId")
    val f = fs(spark, dir)
    val src = new Path(s"$dir/batch_id=$epochId")
    if (!f.exists(src)) return
    val others = batchIds(f, dir).filter(_ != epochId)
    require(others.isEmpty,
      s"rebase expects $dir to hold only batch_id=$epochId, found also " +
        s"batch_id=${others.sorted.mkString(",")} — fold a multi-batch " +
        "store with compact() instead")
    renameOrThrow(f, src, new Path(s"$dir/batch_id=$BaseBatchId"))
  }

  /** One store's maintenance posture — the observable that tells an
    * operator whether the cadence is keeping up and when a full refold
    * is due: `liveBatches` grows between cadences (→ raise the cadence
    * if it trends up), `tierRuns` grows one per cadence (→ schedule a
    * full refold when listing cost matters again), `files`/`bytes` are
    * the listing-cost proxies themselves.
    */
  final case class Stats(dir: String, liveBatches: Long, tierRuns: Long,
                         hasBase: Boolean, files: Long, bytes: Long)

  /** Read [[Stats]] for a store dir — pure listing, no Spark jobs. A
    * missing dir reads as all-zero (a family that never saw data).
    * Monitoring numbers, NOT invariants: a fold swap racing the listing
    * can momentarily under- or over-count (the walk tolerates paths that
    * vanish mid-listing rather than throwing — a monitor must never
    * crash because the loop it watches did its maintenance).
    */
  def stats(spark: SparkSession, dir: String): Stats = {
    val f = fs(spark, dir)
    def listOrEmpty(p: Path) =
      try f.listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val ids = listOrEmpty(new Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
    var files = 0L
    var bytes = 0L
    def walk(p: Path): Unit =
      listOrEmpty(p).foreach { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (!s.getPath.getName.startsWith("_")) {
          files += 1; bytes += s.getLen
        }
      }
    walk(new Path(dir))
    Stats(dir,
      liveBatches = ids.count(_ >= 0L),
      tierRuns = ids.count(_ <= -2L),
      hasBase = ids.contains(BaseBatchId),
      files = files, bytes = bytes)
  }

  /** Recover a crashed [[compact]]: committed stage ⇒ roll forward,
    * uncommitted ⇒ roll back. Idempotent, cheap when there is nothing to
    * do (one existence check), safe to call before any read or write of
    * the store.
    */
  def heal(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, dir)
    if (f.exists(new Path(tmpDir(dir)))) {
      if (f.exists(marker(dir))) finish(spark, dir)
      else {
        // uncommitted stage: roll back — and drop any manifest with it
        // (a _VIEW without a marker cannot name a complete staged run)
        f.delete(new Path(tmpDir(dir)), true)
        f.delete(viewPath(dir), false)
        ()
      }
    } else if (f.exists(new Path(bakDir(dir)))) {
      // bak without tmp: impossible in the protocol's order (the marker
      // outlives the bak), so treat as residue from a FINISHED clean
      // that died between the two deletes — the primary is complete.
      f.delete(new Path(bakDir(dir)), true)
      ()
    }
  }
}
