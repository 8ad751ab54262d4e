package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Curation

/** NEAR-DUP GRAPH maintenance — the graph-shaped sibling of
  * [[TextModelIngest]]'s count stores: [[Curation.pageRank]] and
  * [[Curation.connectedComponents]] consume the verified near-dup pair
  * list, and their in-query forms rebuild the whole minhash pipeline
  * (shingle → band → verify) on every call even though
  * [[DocIndexIngest]] already FINDS each batch's pairs at ingest and
  * persists them under `pairs/`. This job derives, per batch, the two
  * graph artifacts a rank/component query needs beyond the raw pairs —
  * both maintainable batch-locally:
  *
  *  - `graph/degrees/` — `(src, deg)` rows per batch: the symmetrized
  *    pair list's per-endpoint degree counts. Degrees are ADDITIVE
  *    (each pair is discovered exactly once, at the batch its later
  *    member arrives — see the pairs-store uniqueness note below), so
  *    the per-batch append IS the maintenance and a reader sums by key
  *    — the [[TextModelIngest]] argument. The summed table doubles as
  *    the graph's NODE list (every endpoint has degree ≥ 1), so probes
  *    never re-distinct the edge list.
  *  - `graph/ccremap/` — `(old, new)` component-merge rows per batch:
  *    when a batch's pairs merge previously-distinct components, one
  *    row per DEMOTED root records its new (fully-resolved-at-the-time)
  *    root. New edges can only MERGE existing components — never split
  *    them — so the incremental state is exactly this merge log, and
  *    the log is orders smaller than the edge list (≤ one row per node
  *    that ever stopped being a root; batches that only grow existing
  *    components append nothing).
  *
  * Probes ([[pageRankProbe]] / [[ccLabelsProbe]]) then answer
  * rank/component queries WITHOUT re-shingling the corpus: edges come
  * from the pairs store (symmetrize is a narrow two-projection union —
  * no distinct needed, pairs are unique across batches), degrees and
  * labels from the stores above. Probe ≡ in-query is spec-pinned across
  * multi-batch ingests, including out-of-order merge chains.
  *
  * Pairs-store uniqueness: [[DocIndexIngest.processBatch]]'s probe
  * emits pairs touching the incoming batch against the PRE-batch corpus
  * plus batch-internal pairs, so a pair (a, b) with a ingested at batch
  * i and b at batch j ≥ i surfaces exactly once (at batch j), and the
  * union of `batch_id` partitions is disjoint. Replay rewrites its own
  * partition (dynamic overwrite) — the exactly-once contract all these
  * stores share. This rides the ingest stream's doc-id uniqueness (the
  * corpus-store contract): a source that logically re-delivers a whole
  * document under its old id duplicates the corpus row AND its pairs —
  * dedup such sources upstream: a stream's counting state cannot tell a
  * re-delivery from a new arrival.
  *
  * Scale shape: per batch, the degree count is one partial-agg'd
  * aggregate over the batch's own pairs; the merge-log derivation runs
  * union-find on the driver over (current merge log ∪ batch pairs) —
  * both gated by `maxDriver` (the merge log is node-bounded in the
  * worst case, but a batch's pairs are banding-bounded; past the gate,
  * derive the resolution distributed via
  * [[Curation.connectedComponents]] over the log, which is exactly what
  * [[ccLabelsProbe]] does — the log is itself an edge list). Probes
  * read only the graph stores — O(edges) per PageRank round, O(log) +
  * one broadcast join for labels — never the corpus.
  */
object GraphIngest {

  def degreesDir(root: String): String = s"$root/graph/degrees"
  def remapDir(root: String): String = s"$root/graph/ccremap"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir))

  private def overwriteParts(df: DataFrame, dir: String): Unit =
    IngestStages.overwriteParts(df, Seq("batch_id"), dir)

  /** Write one batch's verified pairs to the pairs store AND fold them
    * into the graph stores — the external maintenance entry point (a
    * batch job deriving the graph from pairs found elsewhere;
    * [[DocIndexIngest.processBatch]] calls [[foldBatch]] directly on
    * its already-canonical probe output). `pairs` must carry
    * `(idACol, idBCol)` as integral ids; extra columns (jacc_pct) ride
    * into the pairs store untouched.
    *
    * WITHIN-batch the uniqueness contract is ENFORCED here, not
    * assumed: pairs are oriented `min(a,b) < max(a,b)`, self-pairs
    * dropped, duplicates (including reversed duplicates) collapsed —
    * an un-canonicalized batch would double-count degrees and silently
    * diverge the probes from the in-query operators' `distinct`
    * semantics. ACROSS batches uniqueness remains the store contract
    * (each undirected pair in exactly one `batch_id` partition —
    * DocIndexIngest's probe guarantees it; external callers must).
    * One caveat stated: when duplicate rows differ in EXTRA columns,
    * which row survives the collapse is arbitrary — the graph stores
    * read only the ids and are unaffected, but the pairs store's extra
    * columns are then not replay-byte-deterministic (pre-dedup such
    * inputs if that matters).
    */
  def ingestPairs(spark: SparkSession, pairs: DataFrame, root: String,
                  epochId: Long, idACol: String = "id_a",
                  idBCol: String = "id_b", maxDriver: Long = 2000000L): Unit = {
    Seq(DocIndexIngest.pairsDir(root), degreesDir(root), remapDir(root))
      .foreach(StoreCompaction.heal(spark, _))
    val a = col(idACol)
    val b = col(idBCol)
    val p = pairs
      .filter(a =!= b)
      .withColumn("__a", least(a, b)).withColumn("__b", greatest(a, b))
      .withColumn(idACol, col("__a")).withColumn(idBCol, col("__b"))
      .drop("__a", "__b")
      .dropDuplicates(idACol, idBCol)
      .localCheckpoint(true) // pairs store + degrees + merge log
    overwriteParts(p.withColumn("batch_id", lit(epochId)),
      DocIndexIngest.pairsDir(root))
    foldBatch(spark, p, root, epochId, idACol, idBCol, maxDriver)
  }

  /** Fold one batch's (already-persisted) pairs into degrees + merge
    * log. Deterministic given the batch and the pre-batch stores
    * (collected rows are sorted before the union-find), and all reads
    * exclude `epochId` — a replayed batch recomputes byte-identical
    * partitions ([[DocIndexIngest.processBatch]]'s replay guard).
    *
    * Driver state is BATCH-bounded, never log-bounded: the only collects
    * are the batch's own pairs (gated by `maxDriver` — a genuinely
    * per-batch quantity, bounded by the LSH banding/skew cap) and the
    * touched endpoints' CURRENT resolutions, looked up through
    * [[Curation.connectedComponents]] over the stored log — which
    * carries its own driver-vs-distributed switch, so a log grown past
    * its `driverLimit` resolves in distributed pointer-jumping rounds
    * instead of failing. A batch with zero pairs returns immediately
    * (no store read, no jobs).
    */
  def foldBatch(spark: SparkSession, pairs: DataFrame, root: String,
                epochId: Long, idACol: String = "id_a",
                idBCol: String = "id_b", maxDriver: Long = 2000000L): Unit = {
    val batchPairs = {
      val n = pairs.count()
      require(n <= maxDriver,
        s"$n batch pairs > maxDriver=$maxDriver — raise the LSH skew cap " +
          "or split the batch; the merge-log fold collects batch pairs " +
          "(the stored log itself is never collected here)")
      pairs.select(col(idACol).cast("long"), col(idBCol).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    }
    if (batchPairs.isEmpty) return // nothing to fold — skip the store read
    // the two halves below are independent (degrees reads the
    // checkpointed pairs; the merge log reads the collected batch pairs
    // + the stored log) and write disjoint stores — concurrent stages,
    // the [[IngestStages]] per-trigger-overhead argument (the merge
    // log's CC chain is the fold's longest job sequence; degrees no
    // longer waits behind it)
    IngestStages.inParallel(spark,
      "graph:degrees" -> (() => {
        val sym = pairs.select(col(idACol).cast("long").as("src"),
            col(idBCol).cast("long").as("dst"))
          .union(pairs.select(col(idBCol).cast("long").as("src"),
            col(idACol).cast("long").as("dst")))
        overwriteParts(
          sym.groupBy("src").agg(count(lit(1)).as("deg"))
            .withColumn("batch_id", lit(epochId)),
          degreesDir(root))
      }),
      // ── merge log: union-find over (touched resolutions ∪ batch pairs)
      // — pre-batch roots of the touched endpoints are the only log state
      // this batch can read or change (new edges only merge components);
      // resolve exactly those through CC-over-the-log (driver-or-
      // distributed per its own switch) + a broadcast membership join
      // (an isin literal list would bloat the plan at large batches)
      "graph:merge_log" -> (() => {
        import spark.implicits._
        val touched = batchPairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
        val resolved = Curation.connectedComponents(
            readRemap(spark, root, excludeBatch = epochId), "old", "new")
          .join(broadcast(touched.toSeq.toDF("id")), Seq("id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        resolved.foreach { case (x, r) => if (x != r) parent(x) = r }
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) {
            val p = parent(r)
            parent(r) = parent.getOrElse(p, p) // path halving
            r = parent(r)
          }
          r
        }
        val pre = touched.map(x => x -> find(x)).toMap
        val preRoots = pre.values.toSet
        batchPairs.foreach { case (u, v) =>
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
        }
        // one row per root DEMOTED by this batch (was its own root, is no
        // longer), fully resolved — nodes that already have a log row
        // resolve through chains, so the log stays ≤ one row per
        // ever-demoted root; emission is order-independent (the final
        // component minimum is, whatever order the pairs merged in)
        val changed = (touched ++ preRoots).distinct.sorted
          .map(x => (x, pre.getOrElse(x, x), find(x)))
          .collect { case (x, was, now) if was == x && now != x => (x, now) }
        overwriteParts(
          changed.toSeq.toDF("old", "new").withColumn("batch_id", lit(epochId)),
          remapDir(root))
      }))
  }

  /** The SYMMETRIZED edge list `(src, dst)` from the pairs store — a
    * narrow two-projection union, no distinct (pairs are unique across
    * batches, see the object doc). Empty-with-schema before the first
    * batch. `excludeBatch` as in [[DocIndexIngest.readCorpus]].
    */
  def readEdges(spark: SparkSession, root: String,
                excludeBatch: Long = Long.MinValue): DataFrame =
    if (exists(spark, DocIndexIngest.pairsDir(root))) {
      val p = StoreCompaction.readStore(spark, DocIndexIngest.pairsDir(root))
        .filter(col("batch_id") =!= excludeBatch)
      p.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    } else {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("src", "dst")
    }

  /** Summed degree table `(src, deg)` — also the node list. */
  def readDegrees(spark: SparkSession, root: String,
                  excludeBatch: Long = Long.MinValue): DataFrame =
    if (exists(spark, degreesDir(root)))
      StoreCompaction.readStore(spark, degreesDir(root))
        .filter(col("batch_id") =!= excludeBatch)
        .groupBy("src").agg(sum("deg").as("deg"))
    else {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("src", "deg")
    }

  /** The stored merge log as a DataFrame `(old, new)`. */
  def readRemap(spark: SparkSession, root: String,
                excludeBatch: Long = Long.MinValue): DataFrame =
    if (exists(spark, remapDir(root)))
      StoreCompaction.readStore(spark, remapDir(root))
        .filter(col("batch_id") =!= excludeBatch)
        .select(col("old"), col("new"))
    else {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("old", "new")
    }

  /** PageRank over everything ingested so far, through the stored graph
    * — ≡ [[Curation.pageRank]] over the full pair list (spec-pinned)
    * without re-shingling the corpus or re-deriving degrees: the
    * symmetrize exchange and degree aggregation were paid at ingest;
    * this runs only the `iters` join+sum rounds.
    */
  def pageRankProbe(spark: SparkSession, root: String, iters: Int = 3,
                    scale: Long = 1000000L, dampPct: Long = 85L,
                    excludeBatch: Long = Long.MinValue): DataFrame = {
    // src-keyed layout, scale-adaptive ([[Curation.iterLayout]], r18):
    // small stored graphs keep the r17 checkpoint (the rank side
    // broadcasts in the rounds' joins, so the edge side is never
    // exchanged anyway); big ones hold the layout in a CACHED plan with
    // visible partitioning+ordering so the sort-merge rounds exchange
    // and sort only the rank side. Rounds run eagerly inside
    // pageRankSym, so the unpersist after it returns leaks nothing and
    // repeated probes never read a previous call's cache.
    val (sym, cached) = Curation.iterLayout(
      readEdges(spark, root, excludeBatch), "src")
    try Curation.pageRankSym(sym,
      readDegrees(spark, root, excludeBatch).localCheckpoint(true),
      iters, scale, dampPct)
    finally if (cached) sym.unpersist(false)
  }

  /** Component labels `(id, comp)` over everything ingested so far — ≡
    * [[Curation.connectedComponents]] over the full pair list
    * (spec-pinned) without touching the edge list at all: nodes come
    * from the summed degree store, resolutions from the merge log
    * (resolved by [[Curation.connectedComponents]] over the log itself —
    * every log component's minimum IS the final root, because log rows
    * only ever point at the then-current root of the same final
    * component; the log is orders smaller than the edges, so its
    * driver-or-distributed path switch applies at log scale).
    */
  def ccLabelsProbe(spark: SparkSession, root: String,
                    excludeBatch: Long = Long.MinValue): DataFrame = {
    val nodes = readDegrees(spark, root, excludeBatch)
      .select(col("src").as("id"))
    val resolved = Curation.connectedComponents(
      readRemap(spark, root, excludeBatch), "old", "new")
    nodes.join(resolved.withColumnRenamed("comp", "__c"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("comp"))
  }

  /** Quality-canonical election over the stored graph — ≡
    * [[Curation.dedupKeepBest]] over `docs` (spec-pinned) with the pair
    * pipeline + component derivation amortized into ingest: pays one
    * quality scan of `docs` plus the comp-keyed election aggregates
    * (the [[Curation.dedupKeepBestWithComponents]] half, so probe ≡
    * in-query is structural). `docs` must be the ingested corpus — the
    * store's labels cover exactly its pair-touched ids.
    */
  def dedupBestProbe(spark: SparkSession, root: String, docs: DataFrame,
                     textCol: String, idCol: String,
                     excludeBatch: Long = Long.MinValue): DataFrame =
    Curation.dedupKeepBestWithComponents(docs,
      ccLabelsProbe(spark, root, excludeBatch), textCol, idCol)
}
