package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Curation, Dedup, Similarity, TextAnalysis}

/** Scale-shape check: run the heavy [NS] operators at 1× and at R×
  * (default 10×) the largest on-disk fixture and print the per-query
  * times + ratios as ONE JSON line. Every 100 TB claim so far
  * extrapolates from sf0.1 plan shapes; this main provides the missing
  * measured datapoint — a near-linear ratio (≈R, not R²) is the evidence
  * that the bucketed/capped/log-round constructions hold under scale-up.
  *
  * The R× corpus is the sf fixture unioned R times with disjoint id
  * ranges and a per-replica token appended to the text (each replica is
  * a NEAR-duplicate of its original — deliberately the adversarial case
  * for LSH/connected-components: R× data AND R×-denser dup clusters;
  * organic growth is easier than this). Embeddings replicate with
  * disjoint ids, unperturbed. No fixture files are synthesized or
  * written — the inflation is a lazy union over the driver-provided
  * parquet, per the testdata contract.
  */
object ScaleBench {

  /** Replica id stride = max(id)+1 from the data itself — a constant
    * offset silently collides on a fixture with larger ids, merging
    * replicas and corrupting the very ratios this tool measures.
    */
  private def stride(df: DataFrame, idCol: String): Long =
    df.agg(max(col(idCol))).head().getLong(0) + 1L

  private def inflateDocs(docs: DataFrame, r: Int): DataFrame = {
    val off = stride(docs, "doc_id")
    (0 until r).map { k =>
      docs.select(
        (col("doc_id") + lit(k * off)).as("doc_id"),
        (if (k == 0) col("text") else concat(col("text"), lit(s" replica$k"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_.unionByName(_))
  }

  /** Shared with [[graft.tools.RecallProbe]]'s density sweep — ONE copy
    * of the replica semantics, so the recall evidence always measures the
    * same fixture shape as the scale entries it justifies.
    */
  private[graft] def inflateEmb(emb: DataFrame, r: Int): DataFrame = {
    val off = stride(emb, "vec_id")
    (0 until r).map { k =>
      emb.select((col("vec_id") + lit(k * off)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_.unionByName(_))
  }

  /** Events inflate: R× USERS over the same time window (the realistic
    * growth axis for behavioral analytics — more users, not longer
    * histories), event ids disjoint per replica, timestamps unchanged.
    */
  private def inflateEvents(events: DataFrame, r: Int): DataFrame = {
    val idOff = stride(events, "event_id")
    val userOff = stride(events, "user_id")
    (0 until r).map { k =>
      events.select((col("event_id") + lit(k * idOff)).as("event_id"),
        col("ts"), (col("user_id") + lit(k * userOff)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_.unionByName(_))
  }

  /** The fixed probe batch for the `*_probe_fixed_batch` entries: 100
    * fixture originals re-keyed to NEGATIVE ids (disjoint from every
    * replica range at any R), text unchanged so each is a near-dup of
    * its original — qualifying pairs exist at every scale.
    */
  private def probeBatch(fx: Tables.Fixture): DataFrame =
    fx.documents.filter(col("doc_id") % 100 === 0)
      .withColumn("doc_id", -col("doc_id") - 1L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rep = sys.env.getOrElse("SPARK_GRAFT_REP", "10").toInt
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)

    val fx = Tables.Fixture(spark, sfDir)
    // every store/fixture tree an entry constructor lands is tracked and
    // reclaimed after the suite: at rep=10 each fixed-batch entry
    // materializes an RX-corpus store, and mk(1) runs twice per entry, so
    // an untracked run leaks ~3 trees per entry into /tmp per invocation
    val scaleTempDirs = scala.collection.mutable.ArrayBuffer[String]()
    def tmpDir(prefix: String): String = {
      val d = java.nio.file.Files.createTempDirectory(prefix).toString
      scaleTempDirs += d; d
    }
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete(); ()
    }
    def docsAt(r: Int) = inflateDocs(fx.documents, r)
    def embAt(r: Int) = inflateEmb(fx.embeddings, r)

    // the operators whose scale shape carries the 100 TB story
    val entries: Seq[(String, Int => () => Long)] = Seq(
      "fingerprint_dedup" -> (r => () =>
        Dedup.fingerprint(docsAt(r), "text", "doc_id").filter(col("is_canonical")).count()),
      "minhash_lsh" -> (r => () =>
        Dedup.minhashPairs(docsAt(r), "text", "doc_id", 16, 4, 80, 64).count()),
      "simhash" -> (r => () =>
        Dedup.simhashSignatures(docsAt(r), "text", "doc_id").count()),
      "decontam" -> (r => () =>
        Curation.decontaminate(
          docsAt(r).filter(col("doc_id") % 50 =!= 0),
          fx.documents.filter(col("doc_id") % 50 === 0), "text", "doc_id").count()),
      "tfidf" -> (r => () =>
        TextAnalysis.tfIdfTopTerms(docsAt(r), "text", "doc_id", 3).count()),
      "curate_pipeline" -> (r => () =>
        Curation.curate(docsAt(r), "text", "doc_id").count()),
      // the dataset-construction capstone end-to-end (curate → decontam →
      // mixture → chunk → shards): expected ≈ the curate_pipeline curve
      // (curation dominates; the later stages are narrow passes + one
      // shard exchange). Fresh out dir per run; output measure = rows
      // written (the funnel report's own count). CAVEAT for the reader:
      // the mixture budget is FIXED, so rows written are budget-capped by
      // construction (o1 ≈ oR) and norm_ratio is NOT meaningful here —
      // read the wall ratio against curate_pipeline's instead.
      "training_export" -> (r => () => {
        val out = tmpDir(s"graft-scale-texport$r")
        val d = docsAt(r)
        graft.operators.TrainingExport.export(d, "text", "doc_id",
          s"$out/shards", nShards = 8,
          evalSet = Some(fx.documents.filter(col("doc_id") % 97 === 0)
            .withColumn("doc_id", col("doc_id") + lit(900000000L))),
          mixture = Some(graft.operators.TrainingExport.Mixture("source",
            Map("src1" -> 500, "src2" -> 300), totalBudget = 200000L,
            defaultPermille = 200)),
          chunk = Some(graft.operators.TrainingExport.Chunk(32, 24)))
          .n_rows_written
      }),
      // the DURABLE form of the capstone (stageDir: per-stage parquet +
      // _DONE instead of localCheckpoint) — the path a 100 TB export
      // actually runs, where block-manager checkpoints die with the
      // driver. Expected ≈ training_export plus the stage writes (each
      // O(stage output), curation-dominated like the rest); a ratio far
      // above training_export's would mean the durability tax grows
      // super-linearly and the resumable path is a trap at scale. Fresh
      // stage/out dirs per run (a _DONE left behind would turn the next
      // run into a no-op resume and time nothing). Same budget-capped
      // output caveat as training_export.
      "training_export_staged" -> (r => () => {
        val out = tmpDir(s"graft-scale-texpstg$r")
        val d = docsAt(r)
        graft.operators.TrainingExport.export(d, "text", "doc_id",
          s"$out/shards", nShards = 8,
          evalSet = Some(fx.documents.filter(col("doc_id") % 97 === 0)
            .withColumn("doc_id", col("doc_id") + lit(900000000L))),
          mixture = Some(graft.operators.TrainingExport.Mixture("source",
            Map("src1" -> 500, "src2" -> 300), totalBudget = 200000L,
            defaultPermille = 200)),
          chunk = Some(graft.operators.TrainingExport.Chunk(32, 24)),
          stageDir = Some(s"$out/stages"))
          .n_rows_written
      }),
      // the SURVEY §7.4 maintenance job end-to-end: one epoch-0 rebuild of
      // every store family at a fresh root + the O(1) rebase. Expected ≈
      // the curate_pipeline curve (batch curation dominates; the family
      // stages run concurrently) — O(corpus) by design, the cost the
      // incremental stores amortize between scheduled re-curations. Fresh
      // root per run (rebuild refuses an existing one); output measure:
      // surviving exact-canonical fingerprints.
      "pipeline_rebuild" -> (r => () => {
        val root = tmpDir(s"graft-scale-rebuild$r") + "/new"
        val combined = docsAt(r).join(
          embAt(r).select(col("vec_id").as("doc_id"), col("embedding")),
          Seq("doc_id"), "left")
        graft.streaming.PipelineIngest.rebuild(spark, combined, root,
          "text", "doc_id", Some("embedding"), col("lang") === "en", "lang",
          graft.streaming.PipelineIngest.Config(dedupMinCosine = Some(0.25)))
        spark.read.parquet(graft.streaming.CurateIngest.fpDir(
          graft.streaming.PipelineIngest.docsRoot(root))).count()
      }),
      "cosine_topk" -> (r => () =>
        Similarity.cosineTopK(embAt(r), "vec_id", "embedding", 0L, 10).count()),
      "ann_lsh_mp" -> (r => () =>
        Similarity.annLshMultiProbe(embAt(r), "vec_id", "embedding", 0L, 10, 4).count()),
      "dup_ngrams" -> (r => () =>
        Dedup.duplicateNgramFraction(docsAt(r), "text", "doc_id").count()),
      // span REWRITE: replicas duplicate every original span (each
      // original's full body becomes removable in its R-1 replicas) —
      // worst-case removal density. Aggregate over clean_text so the
      // rewrite itself can't be pruned by the optimizer
      "dup_span_removal" -> (r => () =>
        Dedup.removeDuplicatedSpans(docsAt(r), "text", "doc_id")
          .agg(sum(length(col("clean_text"))).as("chars"), sum(col("n_removed")))
          .head().getLong(0)),
      "decontam_bloom" -> (r => () =>
        Curation.decontaminateBloom(
          docsAt(r).filter(col("doc_id") % 50 =!= 0),
          fx.documents.filter(col("doc_id") % 50 === 0), "text", "doc_id").count()),
      // eval side FIXED (a benchmark doesn't grow with the corpus), corpus
      // inflated — the literal-matrix fold should scale as one narrow scan
      "decontam_semantic" -> (r => () =>
        Curation.decontaminateSemantic(
          embAt(r), fx.embeddings.filter(col("vec_id") % 19 === 3),
          "vec_id", "embedding", minSimX100 = 35).count()),
      // the broadcast-join variant past the literal boundary — same fixed
      // eval, corpus inflated: the nested-loop scoring is O(corpus×eval)
      // like the literal fold, so the expected ratio matches
      // decontam_semantic's; the measured pair is the literal-vs-broadcast
      // crossover datapoint (boundary rule: literal under maxEval=10k,
      // broadcast over)
      "decontam_semantic_join" -> (r => () =>
        Curation.decontaminateSemanticJoin(
          embAt(r), fx.embeddings.filter(col("vec_id") % 19 === 3),
          "vec_id", "embedding", minSimX100 = 35).count()),
      "shuffle_shard" -> (r => () =>
        graft.operators.Sampling.shuffleShard(docsAt(r), "doc_id", 64).count()),
      // narrow per-row rule cascade — expected ~linear; the top-token
      // fold is bounded by topTokenCap² per row, not doc length
      "gopher_rules" -> (r => () =>
        Curation.gopherFilter(docsAt(r), "text", "doc_id")
          .agg(sum(col("keep"))).head().getLong(0)),
      // seeds FIXED (the cluster vocabulary doesn't grow with the
      // corpus), corpus inflated: literal-matrix assignment is one narrow
      // scan; the quota window's WindowGroupLimit keeps the exchange at
      // O(partitions·k·quota) regardless of R
      "cluster_sample" -> (r => () =>
        graft.operators.Sampling.clusterSample(
          embAt(r), fx.embeddings.filter(col("vec_id") % 97 === 5),
          "vec_id", "embedding", quota = 5).count()),
      "ann_pq" -> (r => () =>
        Similarity.annPq(embAt(r), "vec_id", "embedding", 0L, 10).count()),
      // prefix-filter similarity join: the replicas are near-dups of their
      // originals, so the qualifying-pair count itself grows ~R× per doc —
      // the adversarial case for the prefix candidate join
      "simjoin" -> (r => () =>
        Dedup.similarityJoin(docsAt(r), "text", "doc_id", 80).count()),
      // containment join: same adversarial replica structure as simjoin
      // (every replica ~contains its original), plus the full-side join
      // means the candidate set grows with touched postings
      "containment" -> (r => () =>
        Dedup.containmentJoin(docsAt(r), "text", "doc_id", 80).count()),
      // corpus-wide line dedup: window over every segment hash; replicas
      // share all segments with their original (worst-case removal load).
      // Aggregate over clean_text, NOT count(): a count lets the optimizer
      // prune the string-rebuild aggregation and times an empty shell
      "line_dedup" -> (r => () =>
        Curation.lineDedup(docsAt(r), "text", "doc_id")
          .agg(sum(length(col("clean_text"))).as("chars"), sum(col("n_removed")))
          .head().getLong(0)),
      // k-means-blocked semantic pairs: replica embeddings are identical
      // to their originals (cosine 1 within a cell)
      "semantic_dedup" -> (r => () =>
        Similarity.semanticNearDup(embAt(r), "vec_id", "embedding", 16, 0.95).count()),
      // ── the round-7 incremental claim, measured: probe cost vs CORPUS
      // size at a FIXED batch. The on-disk index (bmod/hmod layout) is
      // built UNTIMED inside the entry constructor; the timed thunk is
      // the probe alone. O(batch) probes should hold the ratio far below
      // R; the residual growth term is the verify's corpus-text scan for
      // candidate members (a point-lookup in a production store, a full
      // narrow scan over this lazy-union fixture — documented, not
      // hidden). The fixed batch is 100 originals re-keyed to negative
      // ids: disjoint from every replica id range, near-dup to their
      // originals so real pairs exist at every R.
      "minhash_probe_fixed_batch" -> (r => {
        val dir = tmpDir(s"graft-scale-lsh$r")
        Dedup.bandBuckets(docsAt(r), "text", "doc_id", 16, 4)
          .withColumn("bmod",
            pmod(graft.functions.TextFns.h60(col("bucket")), lit(64L)))
          .write.mode("overwrite").partitionBy("bmod").parquet(dir)
        () => Dedup.minhashPairsIncremental(
          spark.read.parquet(dir), docsAt(r), probeBatch(fx),
          "text", "doc_id", 16, 4, 50, 64, partitionMod = 64).count()
      }),
      "simjoin_probe_fixed_batch" -> (r => {
        val dir = tmpDir(s"graft-scale-sim$r")
        val (prefix, dfT) = Dedup.similarityIndex(docsAt(r), "text", "doc_id", 50)
        prefix.withColumn("hmod", pmod(col("h"), lit(64L)))
          .write.mode("overwrite").partitionBy("hmod").parquet(s"$dir/prefix")
        dfT.write.mode("overwrite").parquet(s"$dir/df")
        () => Dedup.similarityJoinIncremental(
          spark.read.parquet(s"$dir/prefix"), spark.read.parquet(s"$dir/df"),
          docsAt(r), probeBatch(fx), "text", "doc_id", 50,
          partitionMod = 64).count()
      }),
      // near-dup eval decontam probe vs CORPUS size at a FIXED eval set:
      // the stored prefix index is built UNTIMED (ingest-amortized in
      // production); the timed thunk is the eval refresh — eval prefixes +
      // pruned corpus read-back + verify. Same O(batch) expectation as
      // simjoin_probe_fixed_batch (it IS that probe plus a constant-cost
      // orientation tail); this is the measured answer to the in-query
      // q_decontam_neardup paying its index build per query
      "decontam_neardup_probe_fixed_eval" -> (r => {
        val dir = tmpDir(s"graft-scale-decon$r")
        val (prefix, dfT) = Dedup.similarityIndex(docsAt(r), "text", "doc_id", 50)
        prefix.withColumn("hmod", pmod(col("h"), lit(64L)))
          .write.mode("overwrite").partitionBy("hmod").parquet(s"$dir/prefix")
        dfT.write.mode("overwrite").parquet(s"$dir/df")
        () => Curation.decontaminateNearDupIndexed(
          spark.read.parquet(s"$dir/prefix"), spark.read.parquet(s"$dir/df"),
          docsAt(r), probeBatch(fx), "text", "doc_id", 50,
          partitionMod = 64).count()
      }),
      // hybrid RRF in-query: both retrieval legs are full scans (BM25
      // filtered-explode + cosine broadcast-score), so the expected
      // ratio is ≈ R — the fusion itself stays O(2·kPerList) at any R
      "hybrid" -> (r => () =>
        graft.operators.TextSearch.hybridRrf(
          docsAt(r), "text", "doc_id", embAt(r), "vec_id", "embedding",
          "dup vector stream", 0L, 20, 10).count()),
      // BM25 probe vs corpus size at a FIXED query: the df-free postings
      // store (tmod layout) is built UNTIMED; the timed thunk reads the
      // 3 query terms' hash classes + the stats rows. Touched postings
      // lists still grow ~R× (every replica re-emits its original's
      // terms), so the expected ratio is ≈ the terms' posting growth —
      // but of a scan that is ~3/64 of the index, never the corpus
      "bm25_probe_fixed_q" -> (r => {
        val dir = tmpDir(s"graft-scale-bm25-$r")
        graft.operators.TextSearch.postingsRows(docsAt(r), "text", "doc_id")
          .withColumn("tmod", pmod(col("term_h"), lit(64L)))
          .write.mode("overwrite").partitionBy("tmod").parquet(s"$dir/postings")
        graft.operators.TextSearch.corpusStats(docsAt(r), "text")
          .write.mode("overwrite").parquet(s"$dir/stats")
        () => graft.operators.TextSearch.bm25ProbeIncr(
          spark.read.parquet(s"$dir/postings"), spark.read.parquet(s"$dir/stats"),
          "doc_id", "dup vector stream", 10, partitionMod = 64L).count()
      }),
      // phrase probe vs corpus size at a FIXED phrase: positional store
      // built UNTIMED; the probe reads the 3 phrase terms' hash classes.
      // Same expectation as the BM25 probe: growth tracks the touched
      // postings lists (~3/64 of the index), never the corpus
      "phrase_probe_fixed_q" -> (r => {
        val dir = tmpDir(s"graft-scale-phrase-$r")
        graft.operators.TextSearch.positionalPostings(docsAt(r), "text", "doc_id")
          .withColumn("tmod", pmod(col("term_h"), lit(64L)))
          .write.mode("overwrite").partitionBy("tmod").parquet(s"$dir/postings")
        () => graft.operators.TextSearch.phraseProbe(
          spark.read.parquet(s"$dir/postings"), "doc_id",
          "big order scan", partitionMod = 64L).count()
      }),
      // IVF probe vs corpus size at a FIXED query: the store (epoch-0
      // centroids + cell-partitioned vectors) is built UNTIMED; the
      // timed thunk reranks within the nprobe=5 of nlist=16 cells
      // nearest the query. The scan is a constant ~nprobe/nlist
      // FRACTION of the corpus at every R (that fraction, not the
      // absolute time, is the scale claim — production grows nlist
      // with the corpus so the fraction itself shrinks), so the
      // expected ratio is ≈ R×5/16 of an exact scan's growth
      "ivf_probe_fixed_q" -> (r => {
        val dir = tmpDir(s"graft-scale-ivf$r")
        graft.streaming.EmbIndexIngest.processBatch(
          spark, embAt(r), dir, "vec_id", "embedding", 0L,
          graft.streaming.EmbIndexIngest.Config(nlist = NsQueries.AnnBudget.nlist))
        val cents = graft.streaming.EmbIndexIngest.readCentroids(spark, dir)
        val q = fx.embeddings.filter(col("vec_id") === 0L)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        () => Similarity.annIvfProbe(
          graft.streaming.EmbIndexIngest.readVectors(spark, dir),
          cents, q, "vec_id", "embedding",
          excludeId = 0L, k = 10, nprobe = NsQueries.AnnBudget.nprobe).count()
      }),
      // composed IVF-PQ probe vs corpus size at a FIXED query: store
      // built UNTIMED; the timed thunk ADC-scans the codes of nprobe=5
      // of 16 cell partitions (~16× smaller rows than the raw vectors)
      // and exact-reranks the default 800 candidates from the raw store
      // (the RECALL_r11 sweep setting) — expected
      // ratio ≈ the cell fraction's growth, well under an exact scan's
      "ivfpq_probe_fixed_q" -> (r => {
        val dir = tmpDir(s"graft-scale-ivfpq$r")
        graft.streaming.EmbIndexIngest.processBatch(
          spark, embAt(r), dir, "vec_id", "embedding", 0L,
          graft.streaming.EmbIndexIngest.Config(nlist = NsQueries.AnnBudget.nlist))
        val cents = graft.streaming.EmbIndexIngest.readCentroids(spark, dir)
        val books = graft.streaming.EmbIndexIngest.readBooks(spark, dir)
        val q = fx.embeddings.filter(col("vec_id") === 0L)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        () => Similarity.annIvfPqProbe(
          graft.streaming.EmbIndexIngest.readCodes(spark, dir),
          graft.streaming.EmbIndexIngest.readVectors(spark, dir),
          cents, books, q, "vec_id", "embedding",
          excludeId = 0L, k = 10, nprobe = NsQueries.AnnBudget.nprobe).count()
      }),
      // incremental SemDeDup at a FIXED batch vs an R× store: the store
      // is built untimed; the timed probe pairs a fixed 1% batch against
      // only its touched cell partitions. Touched-cell COUNT is bounded
      // by nlist at any R, but each cell holds ~R× rows, so the pairwise
      // stage grows ~linearly in R within that bounded slice — expected
      // ratio ≈ R × (touched/nlist) ≪ the in-query semantic_dedup's
      // re-cluster + Σ|cell|² growth
      "semantic_dedup_probe_fixed_batch" -> (r => {
        val dir = tmpDir(s"graft-scale-semdd$r")
        val inflated = embAt(r)
        graft.streaming.EmbIndexIngest.processBatch(
          spark, inflated, dir, "vec_id", "embedding", 0L,
          graft.streaming.EmbIndexIngest.Config(nlist = NsQueries.AnnBudget.nlist))
        val off = inflated.agg(max(col("vec_id"))).head().getLong(0) + 1L
        val batch = fx.embeddings.filter(col("vec_id") % 100 === 0)
          .select((col("vec_id") + off).as("vec_id"), col("embedding"))
          .localCheckpoint(true)
        () => graft.streaming.EmbIndexIngest.semanticDedupProbe(
          spark, dir, batch, "vec_id", "embedding", minCosine = 0.25).count()
      }),
      // z-ordered layout point scan vs corpus size: the layout is written
      // UNTIMED (64 files at every R — same file count, R× rows per
      // file); the timed thunk is a pushed point filter on the leading
      // z-key. Parquet row-group min/max stats confine the read to the
      // row groups covering the key's z-range, so the scan should grow
      // with the MATCHED row groups (~R× of a small fraction), far below
      // an R× full-scan — the measured twin of PlanAuditSpec's
      // z-order file-skipping pin
      "zorder_point_scan" -> (r => {
        val dir = tmpDir(s"graft-scale-z$r")
        graft.sources.Sinks.writeZOrdered(
          docsAt(r).select("doc_id", "n_chars"), "doc_id", "n_chars",
          dir, files = 64)
        () => spark.read.parquet(dir).filter(col("doc_id") === 0L).count()
      }),
      // the ANN-LSH twin: bucket-partitioned store built UNTIMED; probe
      // reranks within lshT of 2^planes bucket partitions (same constant-
      // fraction scale claim as the IVF probe). Build plane count comes
      // from the SAME AnnBudget as the probe — a desync scans wrong/empty
      // partitions silently on a retune.
      "annlsh_probe_fixed_q" -> (r => {
        val dir = tmpDir(s"graft-scale-annlsh$r")
        Similarity.lshBuckets(embAt(r), "embedding",
          NsQueries.AnnBudget.planes)
          .write.mode("overwrite").partitionBy("bucket").parquet(dir)
        val stored = spark.read.parquet(dir)
        val q = fx.embeddings.filter(col("vec_id") === 0L)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        () => Similarity.annLshProbe(stored, q, "vec_id", "embedding",
          excludeId = 0L, k = 10, planes = NsQueries.AnnBudget.planes,
          probeBuckets = NsQueries.AnnBudget.lshT).count()
      }),
      // DSIR: counts pass + joinless literal-weight scoring are both one
      // linear scan; the bucket table is a FIXED 256 rows at any R, so
      // the driver collect never grows — expected ~linear
      "dsir" -> (r => () =>
        Curation.dsirScore(docsAt(r), "text", "doc_id", col("lang") === "en")
          .agg(sum(col("dsir_score"))).head().getLong(0)),
      // funnel at R× USERS (fixed per-user history): the groupBy(user)
      // fold shuffles (µs-ts, stage) pairs only; per-user state constant
      // — expected ~linear in users
      "event_funnel" -> (r => () => {
        val out = graft.operators.EventAnalytics.funnel(
          inflateEvents(fx.events, r).filter(col("value") >= 80),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
          .agg(sum(col("n_users"))).head().getLong(0)
        out
      }),
      // time-to-convert at R× users: same fold exchange as event_funnel
      // plus an O(users·k) latency stream into a partial-agg'd exact
      // percentile — ~linear in users
      "funnel_time" -> (r => () =>
        graft.operators.EventAnalytics.funnelTimes(
          inflateEvents(fx.events, r).filter(col("value") >= 80),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
          .agg(sum(col("n_users"))).head().getLong(0)),
      // cohort matrix at R× users over the same 30-day window: distinct
      // (user, day) and the min-day agg grow linearly, the matrix stays
      // ~30×30 cells — expected ~linear
      "cohort_retention" -> (r => () =>
        graft.operators.EventAnalytics.cohortRetention(
          inflateEvents(fx.events, r), "user_id", "ts")
          .agg(sum(col("n_users"))).head().getLong(0)),
      // BPE pair counting: one Generate + one hash agg whose key space is
      // the pair alphabet (constant), so the wire is flat — expected
      // ~linear in scan only
      "bpe_pairs" -> (r => () =>
        graft.operators.TextAnalysis.bpePairStats(docsAt(r), "text", 20).count()),
      // bigram-LM scoring: the exploded bigram stream joins two count
      // tables that grow with the VOCABULARY (sub-linear in corpus) —
      // expected ~linear, join-dominated
      "lm_score" -> (r => () =>
        graft.operators.TextAnalysis.lmScore(docsAt(r), "text", "doc_id")
          .agg(sum(col("lm_score_x100k"))).head().getLong(0)),
      // tagger: train pass (explode→C×B agg, collect) + joinless literal
      // scoring — both linear scans, model size constant at any R
      "tagger" -> (r => () =>
        Curation.hashedTagger(docsAt(r), "text", "doc_id", "lang")
          .agg(sum(col("score_top"))).head().getLong(0)),
      // session funnel at R× users: the sessionization window sort and
      // the per-(user, session) fold both scale with users — ~linear
      "session_funnel" -> (r => () =>
        graft.operators.EventAnalytics.sessionFunnel(
          inflateEvents(fx.events, r), "user_id", "ts", "event_id",
          "event_type", Seq("view", "click", "purchase"), 21600L)
          .agg(sum(col("n_sessions"))).head().getLong(0)),
      // ensemble: three linear signal passes + id-keyed joins; the LM
      // pass's vocabulary tables grow sub-linearly — expected ~linear,
      // ≈ the sum of its parts
      "quality_ensemble" -> (r => () =>
        Curation.qualityEnsemble(docsAt(r), "text", "doc_id",
          col("lang") === "en", minLmX100k = 3386L, minDsir = -538L)
          .agg(sum(col("keep"))).head().getLong(0)),
      // lead-chain paths at R× users: one window sort + a count keyed by
      // the path alphabet (constant) — ~linear
      "event_paths" -> (r => () =>
        graft.operators.EventAnalytics.eventPaths(
          inflateEvents(fx.events, r), "user_id", "ts", "event_id",
          "event_type", n = 3, k = 10)
          .agg(sum(col("n_occ"))).head().getLong(0)),
      // text-model probes at a FIXED 100-doc batch vs CORPUS-trained
      // store size: the store is built UNTIMED at R× (ingest-amortized);
      // the timed thunk reads the summed counts and scores the fixed
      // batch. dsir/tagger stores are CONSTANT-size (≤ buckets / C×B
      // rows) → expected ~flat; the LM tables grow with the VOCABULARY
      // (sub-linear in corpus) → expected well below R
      "dsir_probe_fixed_batch" -> (r => {
        val dir = tmpDir(s"graft-scale-tm-dsir$r")
        graft.streaming.TextModelIngest.processBatch(spark, docsAt(r), dir,
          "text", "doc_id", col("lang") === "en", "lang", 0L)
        () => graft.streaming.TextModelIngest.dsirProbe(
          spark, dir, probeBatch(fx), "text", "doc_id")
          .agg(sum(col("dsir_score"))).head().getLong(0)
      }),
      "drift_probe_fixed_batch" -> (r => {
        val dir = tmpDir(s"graft-scale-tm-drift$r")
        graft.streaming.TextModelIngest.processBatch(spark, docsAt(r), dir,
          "text", "doc_id", col("lang") === "en", "lang", 0L)
        () => graft.streaming.TextModelIngest.driftProbe(
          spark, dir, probeBatch(fx), "text")
          .agg(sum(col("drift_pm"))).head().getLong(0)
      }),
      "tagger_probe_fixed_batch" -> (r => {
        val dir = tmpDir(s"graft-scale-tm-tag$r")
        graft.streaming.TextModelIngest.processBatch(spark, docsAt(r), dir,
          "text", "doc_id", col("lang") === "en", "lang", 0L)
        () => graft.streaming.TextModelIngest.taggerProbe(
          spark, dir, probeBatch(fx), "text", "doc_id")
          .agg(sum(col("score_top"))).head().getLong(0)
      }),
      "lm_probe_fixed_batch" -> (r => {
        val dir = tmpDir(s"graft-scale-tm-lm$r")
        graft.streaming.TextModelIngest.processBatch(spark, docsAt(r), dir,
          "text", "doc_id", col("lang") === "en", "lang", 0L)
        () => graft.streaming.TextModelIngest.lmProbe(
          spark, dir, probeBatch(fx), "text", "doc_id")
          .agg(sum(col("lm_score_x100k"))).head().getLong(0)
      }),
      // ensemble probe over the R× corpus itself: the SCORING-only cost
      // (rules + two probed signals) — the delta vs the in-query
      // quality_ensemble entry is exactly the retraining it amortizes
      "quality_ensemble_probe" -> (r => {
        val dir = tmpDir(s"graft-scale-tm-qe$r")
        graft.streaming.TextModelIngest.processBatch(spark, docsAt(r), dir,
          "text", "doc_id", col("lang") === "en", "lang", 0L)
        () => graft.streaming.TextModelIngest.qualityEnsembleProbe(
          spark, dir, docsAt(r), "text", "doc_id",
          minLmX100k = 3386L, minDsir = -538L)
          .agg(sum(col("keep"))).head().getLong(0)
      }),
      // collocations: one bigram Generate + window marginals over the
      // DISTINCT-pair table (vocabulary², sub-linear in corpus) — the
      // scan dominates, expected ~linear
      "collocations" -> (r => () =>
        graft.operators.TextAnalysis.collocations(docsAt(r), "text", 15)
          .agg(sum(col("lift_x1000"))).head().getLong(0)),
      // drift report: two hashed-bucket count passes (256-row tables at
      // any R) + the example-token scan — three linear scans
      "corpus_drift" -> (r => () => {
        val d = docsAt(r)
        graft.operators.TextAnalysis.corpusDrift(
          d.filter(col("source") =!= "src0"),
          d.filter(col("source") === "src0"), "text")
          .agg(sum(col("drift_pm"))).head().getLong(0)
      }),
      // RangeFrame trailing window at R× users: one sort per event_type
      // partition; frame bounds move monotonically so each row's frame
      // is an O(1) slide — expected ~R·log R from the sort
      "window_range" -> (r => () =>
        graft.operators.Windows.timeRangeAgg(
          inflateEvents(fx.events, r), "event_type", "ts", "value",
          rangeSeconds = 3600L)
          .agg(sum(col("cnt_w"))).head().getLong(0)),
      // PageRank over the near-dup graph: the replica fixture is
      // ADVERSARIAL here too — each original and its replicas form a
      // near-dup clique, so the EDGE set grows ~R² per cluster and the
      // per-round join tracks edges, not corpus; expected ratio ≈ the
      // minhash_lsh pair growth + 3 edge-keyed join rounds
      "pagerank" -> (r => () =>
        Curation.pageRank(
          Dedup.minhashPairs(docsAt(r), "text", "doc_id", 16, 4, 50, 64)
            .select("id_a", "id_b"), "id_a", "id_b", iters = 3)
          .agg(sum(col("rank"))).head().getLong(0)),
      // BPE training on a FIXED-SIZE hash sample (mod scales with R so
      // the sample row count stays ~constant): the corpus is touched
      // once by the pushed sample filter; all 4 iterations run over the
      // sample — expected ratio ≈ the one filtered scan's growth, far
      // below the full-corpus loop's R× per-iteration checkpoints
      "bpe_train" -> (r => () =>
        graft.operators.TextAnalysis.bpeTrainSampled(
          docsAt(r), "text", "doc_id", iterations = 4,
          mod = 20 * r, keep = 1).length.toLong),
      // BPE encode at a FIXED trained merge list (training cost is the
      // bpe_train story; encode is the per-corpus pass): narrow per-row
      // fold composition, no explode/shuffle — expected ~linear
      "bpe_encode" -> (r => {
        val merges = graft.operators.TextAnalysis.bpeTrain(
          fx.documents, "text", iterations = 4)
        () => graft.operators.TextAnalysis.bpeEncode(
          docsAt(r), "text", "doc_id", merges)
          .agg(sum(col("n_bpe_tokens"))).head().getLong(0)
      }),
      // top n-grams: one Generate + one partial-agg'd count, top-k as a
      // TakeOrdered over the distinct-shingle table — expected ~linear
      // (the scan+shingle pipeline dominates)
      "top_ngrams" -> (r => () =>
        TextAnalysis.topNgrams(docsAt(r), "text", "doc_id", 20)
          .agg(sum(col("n_occ"))).head().getLong(0)),
      // containment + drop policy: the replica fixture makes every
      // original fully contained in its replicas — worst-case drop
      // density; expected ratio tracks the containment entry (the
      // prefix-bounded join dominates, the anti-join adds one exchange)
      "drop_contained" -> (r => () =>
        Curation.dropContained(docsAt(r), "text", "doc_id", minContPct = 60)
          .count()),
      // the OUTPUT-NORMALIZED twin of drop_contained: the same
      // containment join at the same threshold, returning its emitted
      // PAIR count — under the replica fixture the near-mutual
      // containment of a cluster's members grows the OUTPUT ~R² while
      // the candidate generation stays prefix-pruned, so raw seconds
      // super-linear + seconds-per-emitted-pair ~flat (`norm_ratio` ≈ 1)
      // is the measured adjudication that compute is output-driven, not
      // quadratic in the corpus (the r13 fixture-argument, now a number)
      "containment_pairs60" -> (r => () =>
        Dedup.containmentJoin(docsAt(r), "text", "doc_id", 60).count()),
      // priority sampling: one narrow projection + TakeOrdered, no
      // shuffle — expected ~linear in the scan alone
      "importance_sample" -> (r => () =>
        graft.operators.Sampling.importanceSample(
          docsAt(r), "n_chars", "doc_id", 200)
          .agg(sum(col("priority"))).head().getLong(0)),
      // labeled split: one narrow hash projection; the group-count forces
      // evaluation of the label for every row — expected ~linear
      "split" -> (r => () =>
        graft.operators.Sampling.assignSplit(
          docsAt(r), "doc_id",
          Seq(("train", 80), ("val", 10), ("test", 10)))
          .groupBy("split").count().count()),
      // KMV quantile sketch: per-key bottom-k compiles to a map-side
      // WindowGroupLimit, so the exchange carries O(partitions·k) rows
      // regardless of R — expected ratio ≈ the scan's growth
      "quantile_sketch" -> (r => () =>
        graft.operators.Aggregates.kmhQuantiles(
          inflateEvents(fx.events, r), "event_type", "event_id", "value", 64)
          .count()),
      // graph probes at an R×-denser stored graph (store built UNTIMED —
      // the amortizable cost): probe cost tracks the EDGE list (the
      // replica cliques grow it ~R² per cluster, the same adversarial
      // shape as the in-query pagerank entry), never the corpus — the
      // delta vs `pagerank` is the re-shingling the store amortizes
      "pagerank_probe" -> (r => {
        val dir = tmpDir(s"graft-scale-graph-pr$r")
        graft.streaming.GraphIngest.ingestPairs(spark,
          Dedup.minhashPairs(docsAt(r), "text", "doc_id", 16, 4, 50, 64),
          dir, 0L)
        () => graft.streaming.GraphIngest.pageRankProbe(spark, dir)
          .agg(sum(col("rank"))).head().getLong(0)
      }),
      // component-labels probe: nodes from the summed degree store, the
      // resolution from the merge log (≤ one row per demoted root) —
      // the edge list is never touched, so expected ratio ≈ the degree
      // store's growth, far below the in-query CC's pair pipeline
      "cc_probe" -> (r => {
        val dir = tmpDir(s"graft-scale-graph-cc$r")
        graft.streaming.GraphIngest.ingestPairs(spark,
          Dedup.minhashPairs(docsAt(r), "text", "doc_id", 16, 4, 50, 64),
          dir, 0L)
        () => graft.streaming.GraphIngest.ccLabelsProbe(spark, dir)
          .agg(sum(col("comp"))).head().getLong(0)
      }),
      // the graph MAINTENANCE cost at a fixed batch vs store size: fold
      // a constant 200-pair batch into an R×-grown store — degrees/pairs
      // writes are batch-local (flat), the merge-log fold collects the
      // CURRENT log (grows with merge events) — the measured curve IS
      // the driver-gate story: ~flat while the log is small, and the
      // maxDriver gate turns growth into a loud error, not a slow fold
      "graph_fold_fixed_batch" -> (r => {
        val dir = tmpDir(s"graft-scale-graph-fold$r")
        graft.streaming.GraphIngest.ingestPairs(spark,
          Dedup.minhashPairs(docsAt(r), "text", "doc_id", 16, 4, 50, 64),
          dir, 0L)
        // fixed synthetic batch: 200 pairs linking NEGATIVE ids (disjoint
        // from every replica range), so the fold's work is constant
        import spark.implicits._
        val fixed = (0L until 200L).map(i => (-2 * i - 1, -2 * i - 2))
          .toDF("id_a", "id_b")
        var next = 1L
        () => {
          graft.streaming.GraphIngest.ingestPairs(spark, fixed, dir, next)
          next += 1
          200L
        }
      }),
      // canonical election over the stored graph at R×: one quality scan
      // of the R× corpus + the log resolution — expected ~linear in the
      // scan (the pair pipeline the in-query form re-pays is ingest-side)
      "dedup_best_probe" -> (r => {
        val dir = tmpDir(s"graft-scale-graph-db$r")
        graft.streaming.GraphIngest.ingestPairs(spark,
          Dedup.minhashPairs(docsAt(r), "text", "doc_id", 16, 4, 50, 64),
          dir, 0L)
        () => graft.streaming.GraphIngest.dedupBestProbe(spark, dir,
          docsAt(r), "text", "doc_id")
          .agg(sum(when(col("is_kept"), 1L).otherwise(0L))).head().getLong(0)
      }),
      // multimodal decode at R× media rows (REAL PNG/WAV/MP4 payloads,
      // generated untimed): the mapPartitions decode is row-local and
      // the content dedup shuffles only (sha, id) — expected ratio ≈ R
      // (embarrassingly parallel; anything SUPER-linear here indicates a
      // real problem, e.g. codec state leaking across rows)
      "multimodal_decode" -> (r => {
        val dir = tmpDir(s"graft-scale-media$r")
        graft.operators.Multimodal.syntheticMediaCorpus(spark, 6000 * r)
          .write.mode("overwrite").parquet(dir)
        import spark.implicits._
        () => {
          val feats = graft.operators.Multimodal.decode(
            spark.read.parquet(dir)
              .as[graft.operators.Multimodal.MediaRecord])
          graft.operators.Multimodal.dedupByContent(feats.toDF()).count()
        }
      }),
      // INCREMENTAL CURATION at a fixed batch vs store size — the
      // composed-store capstone: the full curate store (fp index + LSH +
      // prefix + graph) is built UNTIMED at R× (the ingest-amortized
      // cost the in-query `curate_pipeline` entry re-pays per call); the
      // timed thunk curates a constant 100-doc batch through the stored
      // indexes. Expected ~flat up to the probe's two store-tracking
      // terms: the corpus-text read-back for verify candidates (pruned
      // by the broadcast semi-filter) and the CC over the merge log
      // (grows with merge events, the cc_probe curve) — both orders
      // below the in-query pipeline's R×-corpus rescan
      "curate_probe_fixed_batch" -> (r => {
        val dir = tmpDir(s"graft-scale-curate$r")
        graft.streaming.CurateIngest.processBatch(spark, docsAt(r), dir,
          "text", "doc_id", 0L)
        // fixed batch re-keyed ABOVE every replica id (the store
        // contract is id-monotone), text PERTURBED with a short tail:
        // unchanged text would make every doc an EXACT duplicate of its
        // stored original (same fingerprint), eliminated at stage 3 —
        // the LSH probe + Jaccard verify + corpus read-back would then
        // run on an EMPTY batch and the entry would measure nothing but
        // the fp anti-join. A ~4-word tail on a ~45-word doc keeps
        // shingle Jaccard ≈0.9 > the 80% threshold (the CurateIngestSpec
        // appended-tail pattern), so stage 4 runs with real candidates.
        val top = stride(fx.documents, "doc_id") * r
        val fixed = fx.documents.filter(col("doc_id") % 100 === 0)
          .withColumn("doc_id", col("doc_id") + lit(top))
          .withColumn("text", concat(col("text"), lit(" scale probe appended tail")))
        () => graft.streaming.CurateIngest.curateProbe(spark, dir, fixed,
          "text", "doc_id").count()
      }),
      // TIER-FOLD cost is O(folded batches), never O(store): the in-loop
      // compaction cadence (PipelineIngest.Config.compactEvery) folds the
      // same two fixed-size batches over a 1× vs R× doc-index base —
      // expected ~flat, because the base partition is outside the fold's
      // (fromExclusive, upToBatch] range and is never read. The full
      // refold is the O(store) maintenance-window form by design
      // (StoreCompaction's doc); THIS number is what licenses folding
      // inside a 100 TB loop's trigger cadence.
      "tier_compact_fixed" -> (r => {
        val root = tmpDir(s"graft-scale-tier$r")
        val top = stride(fx.documents, "doc_id") * r
        graft.streaming.DocIndexIngest.processBatch(spark, docsAt(r), root,
          "text", "doc_id", 0L)
        (1 to 2).foreach { k =>
          graft.streaming.DocIndexIngest.processBatch(spark,
            fx.documents.filter(col("doc_id") % 100 === k)
              .withColumn("doc_id", col("doc_id") + lit(top * k)),
            root, "text", "doc_id", k.toLong)
        }
        () => {
          graft.streaming.DocIndexIngest.compactStores(spark, root,
            upToBatch = 2L, fromExclusive = 0L)
          2L
        }
      }),
      // THE UNIFIED LOOP at a fixed batch vs store size: every family's
      // store built UNTIMED from the R× corpus (docs + embeddings in one
      // epoch-0 batch), then a constant 100-doc batch — near-dup text
      // tails + exact-copy vectors — ingested through PipelineIngest
      // .processBatch as an epoch-1 REPLAY (same epoch id per run ⇒
      // identical work: every family's probe excludes its own batch).
      // Expected ≈ the curate_probe_fixed_batch curve (curation is the
      // composed loop's deep half) + the flat text-model folds + the
      // touched-cell-pruned embedding dedup — ~flat overall, the number
      // that says the one-checkpoint composition inherits its parts'
      // O(batch) shape instead of summing their corpus terms
      "pipeline_ingest_fixed_batch" -> (r => {
        val root = tmpDir(s"graft-scale-pipe$r")
        val pcfg = graft.streaming.PipelineIngest.Config(
          dedupMinCosine = Some(0.25))
        val combined = docsAt(r).join(
          embAt(r).select(col("vec_id").as("doc_id"), col("embedding")),
          Seq("doc_id"), "left")
        graft.streaming.PipelineIngest.processBatch(spark, combined, root,
          "text", "doc_id", Some("embedding"), col("lang") === "en", "lang",
          0L, pcfg)
        val top = stride(fx.documents, "doc_id") * r
        val fixed = fx.documents.filter(col("doc_id") % 100 === 0)
          .withColumn("doc_id", col("doc_id") + lit(top))
          .withColumn("text", concat(col("text"), lit(" scale probe appended tail")))
          .join(fx.embeddings.filter(col("vec_id") % 100 === 0)
              .select((col("vec_id") + lit(top)).as("doc_id"), col("embedding")),
            Seq("doc_id"), "left")
          .localCheckpoint(true)
        () => {
          graft.streaming.PipelineIngest.processBatch(spark, fixed, root,
            "text", "doc_id", Some("embedding"), col("lang") === "en", "lang",
            1L, pcfg)
          fixed.count()
        }
      }),
      // THE SERVING READ at scale: a curated-product stand-in whose
      // EPOCH COUNT grows with R (8·R id-range partitions — the axis a
      // long-running loop actually grows on), queried with the bounded
      // newest-first walk (PipelineIngest.searchCurated). Expected
      // ~FLAT: an unselective top-100 reads the newest partition and
      // stops, whatever R is — the number that says the flagship query
      // is O(partitions touched), not O(corpus), at 100 TB. Compare
      // served_search_full_scan (the same query forced through the full
      // snapshot scan), which grows ~linear by construction.
      "served_search_walk" -> (r => {
        val out = tmpDir(s"graft-scale-served$r")
        val docs = docsAt(r)
        val top = stride(docs, "doc_id")
        val nEp = 8L * r
        docs.select(col("doc_id"), lit("en").as("pred_lang"),
            (col("doc_id") % 1000L).as("score"))
          .withColumn("src_batch",
            least(lit(nEp - 1L), floor(col("doc_id") * nEp / top)))
          .withColumn("batch_id", col("src_batch"))
          .write.partitionBy("batch_id").parquet(s"$out/prod")
        () => {
          graft.streaming.PipelineIngest.searchCurated(spark, s"$out/prod",
            Map("pred_lang" -> "en"), "doc_id", limit = 100).count()
        }
      }),
      "served_search_full_scan" -> (r => {
        val out = tmpDir(s"graft-scale-servedf$r")
        val docs = docsAt(r)
        val top = stride(docs, "doc_id")
        val nEp = 8L * r
        docs.select(col("doc_id"), lit("en").as("pred_lang"),
            (col("doc_id") % 1000L).as("score"))
          .withColumn("src_batch",
            least(lit(nEp - 1L), floor(col("doc_id") * nEp / top)))
          .withColumn("batch_id", col("src_batch"))
          .write.partitionBy("batch_id").parquet(s"$out/prod")
        () => {
          graft.operators.Search.search(
            graft.streaming.ProductStore.readProduct(spark, s"$out/prod"),
            Map("pred_lang" -> "en"), "doc_id", "batch_id", 100).count()
        }
      }))

    // optional comma-separated allowlist for clean re-measurement
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val picked = only.fold(entries)(o => entries.filter(e => o(e._1)))

    // untimed warmup on the small side
    try { docsAt(1).count(); embAt(1).count() } catch { case _: Throwable => () }

    // every thunk returns a Long output measure (rows/pairs/sum) — record
    // it: a replica fixture can grow an operator's OUTPUT super-linearly
    // by construction, and the output counts let the artifact separate
    // "emits more" from "computes worse" (norm_ratio below)
    def time(thunk: () => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      try { val out = thunk(); ((System.nanoTime() - t0) / 1e9, out) }
      catch { case _: Throwable => (-1.0, -1L) }
    }
    val results = picked.map { case (name, mk) =>
      // entries that localCheckpoint (minhash/CC) leave blocks behind that
      // only the ContextCleaner frees after driver GC — force it between
      // entries so block-manager pressure from entry N doesn't tax entry
      // N+1 (measured: curate at 10× runs ~60% slower without this)
      System.gc(); Thread.sleep(200)
      // 1× runs twice, min taken: the first run absorbs operator JIT that
      // would otherwise inflate the baseline and flatter the ratio
      // (outputs are deterministic — both runs return the same Long)
      val (ta, _) = time(mk(1))
      val (tb, o1) = time(mk(1))
      val t1 = math.min(ta, tb)
      val (tR, oR) = time(mk(rep))
      (name, t1, o1, tR, oR)
    }
    // Locale.ROOT: default-locale formatting writes comma decimals under
    // e.g. de_DE, corrupting the machine-parsed artifact
    def f3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val qs = results.map { case (n, t1, o1, tR, oR) =>
      val ratio = if (t1 > 0 && tR > 0) tR / t1 else -1.0
      // seconds-per-output-row growth: ~1 = compute scales with what the
      // operator EMITS (output-driven); only meaningful when both sides
      // emit something
      val norm = if (t1 > 0 && tR > 0 && o1 > 0 && oR > 0)
        (tR / oR) / (t1 / o1) else -1.0
      s""""$n":{"t1":${f3(t1)},"t$rep":${f3(tR)},"ratio":${f3(ratio)},"o1":$o1,"o$rep":$oR,"norm_ratio":${f3(norm)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_ratio","rep":$rep,"queries":$qs,"sf":"$sfDir"}""")
    scaleTempDirs.foreach(d => rmTree(new java.io.File(d)))
    spark.stop()
  }
}
