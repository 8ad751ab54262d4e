package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every declared query plus the end-to-end curation
  * pipeline at `SPARK_GRAFT_SF_DIR`, printing ONE JSON line.
  *
  * Load-robust by construction — the official gate number must not be
  * falsifiable by a co-tenant process saturating the machine mid-run
  * (round 4's recorded 83.7 s vs a clean 35.1 s for the same binary):
  *
  *  - each entry runs `SPARK_GRAFT_BENCH_RUNS` times (default 5) after a
  *    global untimed warmup; the headline per-query number and total are
  *    the MIN across runs (a deterministic query's true cost is its
  *    fastest observed run — ambient load only ever adds time), with the
  *    median and the full per-run arrays emitted alongside;
  *  - a fixed single-threaded busy-loop sentinel is timed before the
  *    suite, every few entries during it, and after it. On an idle
  *    machine every sample is ~equal; `sentinel_ratio` (max/min) >> 1
  *    proves a co-tenant stole cycles during the run and flags the
  *    artifact as contaminated without needing a cross-run comparison.
  */
object Bench {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0 // even runs: mean of
    // the middle pair, not the upper-middle (which biased medians high)
  }

  /** Deterministic single-threaded busy loop (xorshift64*), ~0.2 s on an
    * idle core. The accumulator check stops the JIT from eliding the loop.
    */
  private def sentinelOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0
    while (i < 150000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    if (acc == 42L) println("") // never true; defeats dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed partitioned-parquet write+read probe — the DISK-era twin of
    * [[sentinelOnce]]: 60k rows written across 16 partition dirs from 8
    * tasks (the small-files + commit-rename storm that IS the
    * `*_index_build` write profile), read back with a count. Exists
    * because the CPU busy-loop is structurally BLIND to the drift class
    * that fired the r16 perf gate: partitioned-WRITE throughput sagged
    * ~1.7× on unchanged code while the busy-loop read 1.0–1.08
    * throughout (r16 verdict, three judge series + BENCH_PARTIAL). Its
    * min-of-samples is compared against the `_io_era` stamp in
    * PERF_BASELINE.json ([[PerfGate.eraError]]): a drifted write era
    * fails the gate once as "baseline stale — regenerate" instead of as
    * fake per-entry regressions on every write-heavy entry.
    */
  private def ioSentinelOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, lit, md5, pmod}
    val dir = "target/bench_io_sentinel"
    val t0 = System.nanoTime()
    spark.range(0L, 60000L, 1L, 8)
      .select(col("id"), pmod(col("id"), lit(16L)).as("p"),
        md5(col("id").cast("string")).as("payload"))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val n = spark.read.parquet(dir).count()
    require(n == 60000L, s"io sentinel readback: $n")
    (System.nanoTime() - t0) / 1e9
  }

  // Locale.ROOT: the default-locale formatter writes comma decimals under
  // e.g. de_DE, which would corrupt the machine-parsed gate artifact
  private def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

  /** Compact 2-decimal formatter with trailing zeros stripped ("0.10" ->
    * "0.1", "1.00" -> "1") — still valid JSON numbers. The final printed
    * line must fit the harness's 2000-char stdout-tail capture (every
    * prior round's full-precision line overflowed it and the artifact
    * recorded `parsed: null`), so the headline line spends ~4 chars per
    * query and the full-precision detail goes to BENCH_FULL.json.
    */
  private def fmtC(d: Double): String = {
    val s = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt)
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)

    val sentinels = scala.collection.mutable.ArrayBuffer[Double]()
    // OS 1-min load average alongside each sentinel: the busy-loop
    // sentinel is BLIND to partial-core co-tenancy (a 4-thread neighbor
    // barely moves a 1-thread loop on a 32-core box but steals 12% of a
    // 32-thread suite — the r15 q_dedup_best false-regression class,
    // BENCH_ISOLATED_r15); the load average sees the neighbor directly
    val loadAvgs = scala.collection.mutable.ArrayBuffer[Double]()
    // the IO-era samples ride the same cadence (and the same
    // `after_entry` labels) as the CPU sentinel; the first sample pays
    // session cold-start, which the min-of-samples era reading ignores
    val ioSentinels = scala.collection.mutable.ArrayBuffer[Double]()
    def sampleLoad(): Unit = loadAvgs += java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def sampleSentinels(): Unit = {
      sentinels += sentinelOnce()
      ioSentinels += (try ioSentinelOnce(spark) catch { case _: Throwable => -1.0 })
      sampleLoad()
    }
    sampleSentinels()

    // Untimed warmup: JIT the scan/shuffle/codegen paths and cache parquet
    // footers so the first timed query isn't charged for session cold-start.
    try {
      graft.sources.Tables.names.foreach(n =>
        graft.sources.Tables.loadNormalized(spark, sfDir, n).count())
      SparkEntry.queries.get("q_group_count").foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => () }

    // optional comma-separated allowlist for local iteration (unset = all)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // ── index build vs probe, benched SEPARATELY ────────────────────────
    // The incremental dedup/simjoin entries above (q_minhash_incr /
    // q_simjoin_incr) construct their "stored" index in-query — correct
    // semantics, misleading accounting: production builds the index ONCE
    // at ingest (DocIndexIngest) and each batch pays only the probe. These
    // four entries split the two costs against a REAL on-disk index
    // (partitioned by bmod/hmod, the probes partition-pruned): *_index_
    // build measures the amortizable ingest-side cost, *_probe the
    // recurring per-batch cost.
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val idxRoot = "target/bench_idx"
    // Probe self-heal ledger: a probe entry trusts a store ONLY if this
    // process built it. Directory existence is not enough — a stale
    // target/bench_idx left by a previous bench run against a REGENERATED
    // /root/testdata fixture would be silently probed (wrong data; a
    // schema drift would read as a broken entry), and the seeded order
    // shuffle means declaration order no longer guarantees
    // build-before-probe. First timed run pays the rebuild; min-of-runs
    // absorbs it.
    val builtThisRun = scala.collection.mutable.Set[String]()
    def corpusDocs = BenchStores.corpusDocs(spark, sfDir)
    def incomingDocs = graft.sources.Tables.Fixture(spark, sfDir).documents
      .filter(col("doc_id") % 5 === 0)
    def buildLshIndex(): Unit = {
      BenchStores.buildLshIndex(spark, sfDir, idxRoot)
      builtThisRun += "lsh"; ()
    }
    def buildPrefixIndex(): Unit = {
      BenchStores.buildPrefixIndex(spark, sfDir, idxRoot)
      builtThisRun += "prefix"; ()
    }
    def buildBm25Index(): Unit = {
      val (postings, stats) = graft.operators.TextSearch.bm25Index(
        graft.sources.Tables.Fixture(spark, sfDir).documents, "text", "doc_id")
      // class-keyed layout before every class-partitioned store write
      // (the IngestStages.overwriteParts idiom): the postings frame
      // arrives with the scan's N splits and would otherwise write up to
      // N × 64 tiny files — commit-rename overhead, not data
      postings.withColumn("tmod", pmod(col("term_h"), lit(64L)))
        .repartition(col("tmod"))
        .write.mode("overwrite").option("maxRecordsPerFile", "1000000")
        .partitionBy("tmod").parquet(s"$idxRoot/bm25/postings")
      stats.write.mode("overwrite").parquet(s"$idxRoot/bm25/stats")
      builtThisRun += "bm25"; ()
    }
    // the ingest-maintained layout: df-free postings + per-batch stats
    // rows (here one batch); the probe derives df/globals itself
    def buildBm25IncrIndex(): Unit = {
      val d = graft.sources.Tables.Fixture(spark, sfDir).documents
      graft.operators.TextSearch.postingsRows(d, "text", "doc_id")
        .withColumn("tmod", pmod(col("term_h"), lit(64L)))
        .repartition(col("tmod")) // class-keyed layout (see buildBm25Index)
        .write.mode("overwrite").option("maxRecordsPerFile", "1000000")
        .partitionBy("tmod").parquet(s"$idxRoot/bm25i/postings")
      graft.operators.TextSearch.corpusStats(d, "text")
        .write.mode("overwrite").parquet(s"$idxRoot/bm25i/stats")
      builtThisRun += "bm25i"; ()
    }
    // the IVF twin: ingest the whole embeddings table as one batch (train
    // epoch-0 centroids + assign + write partitioned by cell); the probe
    // then reads nprobe of nlist cell partitions off disk
    // the ANN-LSH store twin: whole embeddings table bucketed once,
    // written partitioned by bucket so the probe partition-prunes
    def buildAnnLshStore(): Unit = {
      // plane count MUST come from the same AnnBudget the probe reads —
      // a store bucketed at a different plane count than the probe's
      // planeMatrix silently scans wrong/empty partitions on a retune
      graft.operators.Similarity.lshBuckets(
        graft.sources.Tables.Fixture(spark, sfDir).embeddings, "embedding",
        NsQueries.AnnBudget.planes)
        // bucket-keyed layout: the bucketing is narrow over the scan's N
        // splits, so the write would emit up to N × 2^planes tiny files
        // (the annlsh_index_build write storm the r16 era drift tracked)
        .repartition(col("bucket"))
        .write.mode("overwrite").option("maxRecordsPerFile", "1000000")
        .partitionBy("bucket").parquet(s"$idxRoot/annlsh")
      builtThisRun += "annlsh"; ()
    }
    // shared recursive delete for stores whose layout is bootstrap-once
    // (epoch dirs / batch partitions) — rebuild clean, never merge stale
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete(); ()
    }
    // temp dirs created by the streaming-latency entry (input landing,
    // per-run store/checkpoint) — reclaimed after the suite, untimed
    val streamTempDirs = scala.collection.mutable.ArrayBuffer[String]()
    // Land the streaming-latency fixtures: the top 3% of `src` by id as
    // three 1% files with ascending mtimes, so the file source +
    // maxFilesPerTrigger=1 yields three ordered micro-batches. Batches
    // are ASCENDING ID RANGES — DocIndexIngest's incremental pair
    // orientation assumes id-monotone batches, so the latency fixtures
    // must honor the same contract the real ingest loop documents (a
    // modulus split times the same work but leaves a store whose pairs
    // violate the min-id orientation). ONE copy for both ingest-latency
    // entries: the landing idiom was bug-fixed once already (modulus →
    // id ranges) and must never diverge between them.
    def landIdRangeBatches(src: org.apache.spark.sql.DataFrame,
                           prefix: String): String = {
      val d = java.nio.file.Files
        .createTempDirectory(s"graft-bench-$prefix-in").toString
      streamTempDirs += d
      val maxId = src.agg(org.apache.spark.sql.functions.max(col("doc_id")))
        .head().getLong(0)
      val t0 = System.currentTimeMillis() - 60000
      (0 until 3).foreach { k =>
        val stage = java.nio.file.Files
          .createTempDirectory(s"graft-bench-$prefix-stage$k").toString
        streamTempDirs += stage
        src.filter(col("doc_id") > maxId * (97L + k) / 100L &&
            col("doc_id") <= maxId * (98L + k) / 100L).coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get.toPath
        val dst = java.nio.file.Paths.get(d, s"b$k.parquet")
        java.nio.file.Files.move(part, dst)
        dst.toFile.setLastModified(t0 + k * 10000L); ()
      }
      d
    }
    def buildIvfIndex(): Unit = {
      val dir = new java.io.File(s"$idxRoot/emb")
      if (dir.exists()) rmTree(dir)
      graft.streaming.EmbIndexIngest.processBatch(
        spark, graft.sources.Tables.Fixture(spark, sfDir).embeddings,
        s"$idxRoot/emb", "vec_id", "embedding", 0L,
        graft.streaming.EmbIndexIngest.Config(nlist = NsQueries.AnnBudget.nlist))
      builtThisRun += "emb"; ()
    }
    // the text-model count store: whole documents table ingested as one
    // batch; probes score WITHOUT retraining (the in-query q_dsir/
    // q_tagger/q_lm_score/q_quality_ensemble twins retrain per call)
    def buildTextModelStore(): Unit = {
      graft.streaming.TextModelIngest.processBatch(
        spark, graft.sources.Tables.Fixture(spark, sfDir).documents,
        s"$idxRoot/tmodel", "text", "doc_id",
        col("lang") === "en", "lang", 0L)
      builtThisRun += "tmodel"; ()
    }
    // the trained-snapshot model: BPE merges trained once over the 5%
    // hash sample (the corpus-scale training setting) and persisted;
    // the probe encodes under stored merges with NO training loop
    def buildBpeStore(): Unit = {
      graft.streaming.TextModelIngest.bpeTrainStore(
        spark, graft.sources.Tables.Fixture(spark, sfDir).documents,
        s"$idxRoot/tmodel", "text", "doc_id", iterations = 8,
        sampleMod = 20, sampleKeep = 1)
      builtThisRun += "bpe"; ()
    }
    // the near-dup GRAPH store: pairs found once (the amortizable cost —
    // q_pagerank/q_dedup_cc pay this shingle+band+verify pipeline on
    // EVERY call), degrees + merge log derived; the probes then iterate
    // over stored edges only
    def buildGraphStore(): Unit = {
      val dir = new java.io.File(s"$idxRoot/graph")
      if (dir.exists()) rmTree(dir) // stale batch partitions: rebuild clean
      graft.streaming.GraphIngest.ingestPairs(spark,
        graft.operators.Dedup.minhashPairs(
          graft.sources.Tables.Fixture(spark, sfDir).documents, "text",
          "doc_id", 16, 4, 50, 64),
        s"$idxRoot/graph", 0L)
      builtThisRun += "graph"; ()
    }
    // a 1%-of-corpus batch (disjoint from the index side: %100==0 ⊂ %5==0)
    // — the realistic per-trigger ingest batch, where probe cost should
    // sit far below the 20%-batch q_*_incr entries
    def smallBatch = graft.sources.Tables.Fixture(spark, sfDir).documents
      .filter(col("doc_id") % 100 === 0)
    // the REAL-bytes media fixture (PNG/WAV/MP4 via Multimodal
    // .syntheticMediaCorpus) — written once, untimed; the decode entry
    // then measures the mapPartitions decoder path (the one component
    // family that had specs but no measured throughput)
    def buildMediaFixture(): Unit = {
      graft.operators.Multimodal.syntheticMediaCorpus(spark, 6000)
        .write.mode("overwrite").parquet(s"$idxRoot/media")
      builtThisRun += "media"; ()
    }
    // the curation store's splits are id RANGES, not moduli — the
    // incremental-curation contract is id-monotone (CurateIngest doc):
    // 99% of ids ingested, the top 1% as the per-trigger batch
    lazy val curateCut = graft.sources.Tables.Fixture(spark, sfDir).documents
      .agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0) * 99L / 100L
    def buildCurateStore(): Unit = {
      val dir = new java.io.File(s"$idxRoot/curate")
      if (dir.exists()) rmTree(dir) // stale batch partitions: rebuild clean
      graft.streaming.CurateIngest.processBatch(spark,
        graft.sources.Tables.Fixture(spark, sfDir).documents
          .filter(col("doc_id") <= curateCut),
        s"$idxRoot/curate", "text", "doc_id", 0L)
      builtThisRun += "curate"; ()
    }
    // the serving-path product store: the curated survivor view written
    // batch_id-partitioned, the on-disk shape PipelineIngest.run's
    // outDir produces. Epochs are ID RANGES, not moduli — the product's
    // contract is id-monotone batches (the ingest gate enforces it; the
    // bounded newest-first walk's early stop is built on it), so the
    // stand-in must honor it or it measures a layout the real loop can
    // never produce. src_batch stamped like ProductStore.writeEpoch.
    def buildServedStore(): Unit = {
      val dir = new java.io.File(s"$idxRoot/served")
      if (dir.exists()) rmTree(dir)
      val cur = graft.operators.Curation.curate(
        graft.sources.Tables.Fixture(spark, sfDir).documents,
        "text", "doc_id")
      val maxId = cur.agg(org.apache.spark.sql.functions.max(col("doc_id")))
        .head().getLong(0)
      val stamped = cur
        .withColumn("src_batch",
          org.apache.spark.sql.functions.least(lit(7L),
            org.apache.spark.sql.functions.floor(col("doc_id") * 8L / (maxId + 1L))))
        .withColumn("batch_id", col("src_batch"))
      stamped.write.partitionBy("batch_id").parquet(s"$idxRoot/served")
      builtThisRun += "served"; ()
    }
    val splitEntries: Seq[(String, () => Unit)] = Seq(
      "minhash_index_build" -> (() => buildLshIndex()),
      "minhash_probe" -> (() => {
        // probe-only: the index comes from disk (built by the build entry;
        // self-heals under a BENCH_ONLY allowlist that skipped it — the
        // first of the timed runs then pays the build, min-of-runs doesn't)
        if (!builtThisRun("lsh")) buildLshIndex()
        graft.operators.Dedup.minhashPairsIncremental(
          spark.read.parquet(s"$idxRoot/lsh"), corpusDocs, incomingDocs,
          "text", "doc_id", 16, 4, 50, 64, partitionMod = 64).count()
        ()
      }),
      "minhash_probe_small" -> (() => {
        if (!builtThisRun("lsh")) buildLshIndex()
        graft.operators.Dedup.minhashPairsIncremental(
          spark.read.parquet(s"$idxRoot/lsh"), corpusDocs, smallBatch,
          "text", "doc_id", 16, 4, 50, 64, partitionMod = 64).count()
        ()
      }),
      "simjoin_index_build" -> (() => buildPrefixIndex()),
      "simjoin_probe" -> (() => {
        if (!builtThisRun("prefix")) buildPrefixIndex()
        graft.operators.Dedup.similarityJoinIncremental(
          spark.read.parquet(s"$idxRoot/prefix"), spark.read.parquet(s"$idxRoot/df"),
          corpusDocs, incomingDocs, "text", "doc_id", 50, partitionMod = 64).count()
        ()
      }),
      "simjoin_probe_small" -> (() => {
        if (!builtThisRun("prefix")) buildPrefixIndex()
        graft.operators.Dedup.similarityJoinIncremental(
          spark.read.parquet(s"$idxRoot/prefix"), spark.read.parquet(s"$idxRoot/df"),
          corpusDocs, smallBatch, "text", "doc_id", 50, partitionMod = 64).count()
        ()
      }),
      // near-dup eval decontam against the SAME stored prefix index: the
      // production eval-refresh path (q_decontam_neardup's in-query twin
      // pays the corpus index build every query — ~3/4 of its runtime;
      // this entry pays only the eval batch's prefixes + the pruned
      // probe). Eval side = the 1% batch: an eval set is a BENCHMARK
      // (KB–MB), so the realistic refresh cost is the small-batch probe —
      // the 20%-batch cost curve is already covered by simjoin_probe.
      "decontam_neardup_probe" -> (() => {
        if (!builtThisRun("prefix")) buildPrefixIndex()
        graft.operators.Curation.decontaminateNearDupIndexed(
          spark.read.parquet(s"$idxRoot/prefix"), spark.read.parquet(s"$idxRoot/df"),
          corpusDocs, smallBatch, "text", "doc_id", 50, partitionMod = 64).count()
        ()
      }),
      "bm25_index_build" -> (() => buildBm25Index()),
      "bm25_probe" -> (() => {
        if (!builtThisRun("bm25")) buildBm25Index()
        graft.operators.TextSearch.bm25Probe(
          spark.read.parquet(s"$idxRoot/bm25/postings"),
          spark.read.parquet(s"$idxRoot/bm25/stats"),
          "doc_id", "dup vector stream", 10, partitionMod = 64L).count()
        ()
      }),
      "bm25_probe_incr" -> (() => {
        if (!builtThisRun("bm25i")) buildBm25IncrIndex()
        graft.operators.TextSearch.bm25ProbeIncr(
          spark.read.parquet(s"$idxRoot/bm25i/postings"),
          spark.read.parquet(s"$idxRoot/bm25i/stats"),
          "doc_id", "dup vector stream", 10, partitionMod = 64L).count()
        ()
      }),
      "annlsh_index_build" -> (() => buildAnnLshStore()),
      "annlsh_probe" -> (() => {
        if (!builtThisRun("annlsh")) buildAnnLshStore()
        val q = graft.sources.Tables.Fixture(spark, sfDir).embeddings
          .filter(col("vec_id") === 0L)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        graft.operators.Similarity.annLshProbe(
          spark.read.parquet(s"$idxRoot/annlsh"), q, "vec_id", "embedding",
          excludeId = 0L, k = 10, planes = NsQueries.AnnBudget.planes,
          probeBuckets = NsQueries.AnnBudget.lshT).count()
        ()
      }),
      "textmodel_build" -> (() => buildTextModelStore()),
      // probes score the 1% per-trigger batch — the realistic recurring
      // cost (in production each ingest batch is scored under the stored
      // model; the in-query q_dsir/q_tagger/q_lm_score twins retrain on
      // the WHOLE corpus for every such batch)
      "dsir_probe" -> (() => {
        if (!builtThisRun("tmodel")) buildTextModelStore()
        graft.streaming.TextModelIngest.dsirProbe(spark, s"$idxRoot/tmodel",
          smallBatch, "text", "doc_id").count()
        ()
      }),
      "tagger_probe" -> (() => {
        if (!builtThisRun("tmodel")) buildTextModelStore()
        graft.streaming.TextModelIngest.taggerProbe(spark, s"$idxRoot/tmodel",
          smallBatch, "text", "doc_id").count()
        ()
      }),
      "lm_probe" -> (() => {
        if (!builtThisRun("tmodel")) buildTextModelStore()
        graft.streaming.TextModelIngest.lmProbe(spark, s"$idxRoot/tmodel",
          smallBatch, "text", "doc_id").count()
        ()
      }),
      // drift of the 1% trigger batch vs the STORED corpus distribution
      // — one batch pass + a 256-row store read, where the in-query
      // q_corpus_drift twin re-scans both corpus slices per call
      "drift_probe" -> (() => {
        if (!builtThisRun("tmodel")) buildTextModelStore()
        graft.streaming.TextModelIngest.driftProbe(spark, s"$idxRoot/tmodel",
          smallBatch, "text").count()
        ()
      }),
      "bpe_store_build" -> (() => buildBpeStore()),
      // encodes the FULL documents table under the stored trained merges
      // — the recurring tokenize cost once training is amortized (the
      // train loop itself is the bpe_train ScaleBench entry: 8 rounds of
      // distributed count + checkpoint that this probe never pays)
      "bpe_encode_probe" -> (() => {
        if (!builtThisRun("bpe")) buildBpeStore()
        graft.streaming.TextModelIngest.bpeEncodeProbe(
          spark, s"$idxRoot/tmodel",
          graft.sources.Tables.Fixture(spark, sfDir).documents,
          "text", "doc_id").count()
        ()
      }),
      "quality_ensemble_probe" -> (() => {
        if (!builtThisRun("tmodel")) buildTextModelStore()
        graft.streaming.TextModelIngest.qualityEnsembleProbe(spark,
          s"$idxRoot/tmodel", smallBatch,
          "text", "doc_id", minLmX100k = 3386L, minDsir = -538L).count()
        ()
      }),
      "ivf_index_build" -> (() => buildIvfIndex()),
      "ivf_probe" -> (() => {
        if (!builtThisRun("emb")) buildIvfIndex()
        val cents = graft.streaming.EmbIndexIngest.readCentroids(spark, s"$idxRoot/emb")
        val q = graft.sources.Tables.Fixture(spark, sfDir).embeddings
          .filter(col("vec_id") === 0L)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        graft.operators.Similarity.annIvfProbe(
          graft.streaming.EmbIndexIngest.readVectors(spark, s"$idxRoot/emb"),
          cents, q, "vec_id", "embedding", excludeId = 0L, k = 10,
          nprobe = NsQueries.AnnBudget.nprobe).count()
        ()
      }),
      // the COMPOSED index: IVF prunes which cell partitions are read,
      // PQ shrinks the first pass to the codes table (ADC scoring), raw
      // vectors touched only for the exact rerank of the default 800
      // candidates (the RECALL_r11 sweep setting)
      "ivfpq_probe" -> (() => {
        if (!builtThisRun("emb")) buildIvfIndex()
        val root = s"$idxRoot/emb"
        val cents = graft.streaming.EmbIndexIngest.readCentroids(spark, root)
        val books = graft.streaming.EmbIndexIngest.readBooks(spark, root)
        val q = graft.sources.Tables.Fixture(spark, sfDir).embeddings
          .filter(col("vec_id") === 0L)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        graft.operators.Similarity.annIvfPqProbe(
          graft.streaming.EmbIndexIngest.readCodes(spark, root),
          graft.streaming.EmbIndexIngest.readVectors(spark, root),
          cents, books, q, "vec_id", "embedding",
          excludeId = 0L, k = 10, nprobe = NsQueries.AnnBudget.nprobe).count()
        ()
      }),
      // incremental SemDeDup over the SAME stored IVF layout: a 1%
      // incoming batch (re-keyed past the stored ids — the monotone
      // discipline; every probed vector has an exact stored copy, the
      // realistic "new rows near-duplicate the corpus" shape) forms its
      // near-dup pairs against the touched cell partitions only —
      // q_semantic_dedup pays k-means + Σ|cell|² over the corpus per call
      "semantic_dedup_probe" -> {
        // batch derived UNTIMED at entry construction (the max() corpus
        // scan and the projection are setup, not probe cost — the same
        // eager-landing discipline as stream_ingest_latency); skipped
        // when an allowlist run excludes the entry
        val sdBatch: org.apache.spark.sql.DataFrame =
          if (only.forall(_("semantic_dedup_probe"))) {
            val emb = graft.sources.Tables.Fixture(spark, sfDir).embeddings
            val off = emb.agg(org.apache.spark.sql.functions.max(col("vec_id")))
              .head().getLong(0) + 1L
            emb.filter(col("vec_id") % 100 === 0)
              .select((col("vec_id") + off).as("vec_id"), col("embedding"))
              .localCheckpoint(true)
          } else null
        () => {
          if (!builtThisRun("emb")) buildIvfIndex()
          graft.streaming.EmbIndexIngest.semanticDedupProbe(
            spark, s"$idxRoot/emb", sdBatch, "vec_id", "embedding",
            minCosine = 0.25).count()
          ()
        }
      },
      // the mergeable-sketch rollup pattern, benched (the contract itself
      // is spec-pinned in ScaleOpsSpec): per-group partials built in one
      // pass, then the KB-scale merge — the shape that replaces raw-data
      // rescans for distinct/frequency rollups at 100 TB
      "hll_rollup" -> (() => {
        val sk = graft.operators.Aggregates.hllSketches(
          graft.sources.Tables.Fixture(spark, sfDir).events,
          "event_type", "user_id")
        graft.operators.Aggregates.hllRollup(sk).collect()
        ()
      }),
      "cms_rollup" -> (() => {
        val docs = graft.sources.Tables.Fixture(spark, sfDir).documents
        val toks = graft.operators.TextAnalysis.tokenRows(docs, "text", "doc_id")
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        val sk = graft.operators.Aggregates.cmsSketches(toks, "lang", "tok")
        graft.operators.Aggregates.cmsProbe(sk, Seq("the", "and", "of"))
        ()
      }),
      "graph_build" -> (() => buildGraphStore()),
      // rank/component queries over the STORED graph — same parameters as
      // the in-query q_pagerank/q_dedup_cc entries, which re-shingle the
      // corpus per call; these pay only the iteration/resolution
      "pagerank_probe" -> (() => {
        if (!builtThisRun("graph")) buildGraphStore()
        graft.streaming.GraphIngest.pageRankProbe(spark, s"$idxRoot/graph")
          .count()
        ()
      }),
      "cc_probe" -> (() => {
        if (!builtThisRun("graph")) buildGraphStore()
        graft.streaming.GraphIngest.ccLabelsProbe(spark, s"$idxRoot/graph")
          .count()
        ()
      }),
      // canonical election over the stored graph: one quality scan +
      // comp-keyed election vs q_dedup_best's full pair pipeline per call
      "dedup_best_probe" -> (() => {
        if (!builtThisRun("graph")) buildGraphStore()
        graft.streaming.GraphIngest.dedupBestProbe(spark, s"$idxRoot/graph",
          graft.sources.Tables.Fixture(spark, sfDir).documents,
          "text", "doc_id").count()
        ()
      }),
      "multimodal_fixture_build" -> (() => buildMediaFixture()),
      // real decoders (ImageIO PNG pixels, AudioSystem WAV waveforms,
      // ISO-BMFF box walk) through the mapPartitions path + content-hash
      // dedup — row-local work, binary payloads never shuffle (only
      // (sha, id) reaches the dedup exchange)
      "multimodal_decode" -> (() => {
        if (!builtThisRun("media")) buildMediaFixture()
        import spark.implicits._
        val feats = graft.operators.Multimodal.decode(
          spark.read.parquet(s"$idxRoot/media")
            .as[graft.operators.Multimodal.MediaRecord])
        graft.operators.Multimodal.dedupByContent(feats.toDF()).count()
        ()
      }),
      "curate_store_build" -> (() => buildCurateStore()),
      // the SERVING read path over the loop's curated product: dynamic
      // filter → newest-first top-100 (the reference's flagship search
      // shape, PipelineIngest.searchCurated) against an on-disk curated
      // outDir stand-in — measures what an external reader pays per
      // uncached query (plan-pinned: pushed filter +
      // TakeOrderedAndProject; a ResultCache hit is ~free and not worth
      // timing). Build/probe split like every stored-index entry.
      "served_search_build" -> (() => buildServedStore()),
      "served_search" -> (() => {
        if (!builtThisRun("served")) buildServedStore()
        graft.streaming.PipelineIngest.searchCurated(spark,
          s"$idxRoot/served", Map("pred_lang" -> "en"), "doc_id",
          limit = 100).count()
        ()
      }),
      // the same query WITHOUT the bounded walk (full snapshot scan) —
      // the comparator that keeps the walk's win measured, not assumed:
      // served_search reads the newest partition(s) and stops;
      // served_search_full reads every epoch partition
      "served_search_full" -> (() => {
        if (!builtThisRun("served")) buildServedStore()
        graft.operators.Search.search(
          graft.streaming.ProductStore.readProduct(spark, s"$idxRoot/served"),
          Map("pred_lang" -> "en"), "doc_id", "batch_id", 100).count()
        ()
      }),
      // the composed-store capstone: curate the top-1% batch against the
      // stored fp index + LSH index + merge log — pipeline_curate's
      // recurring form, which pays O(batch) + pruned index reads instead
      // of re-running lang→quality→exact→minhash→CC over the corpus
      "curate_probe" -> (() => {
        if (!builtThisRun("curate")) buildCurateStore()
        graft.streaming.CurateIngest.curateProbe(spark, s"$idxRoot/curate",
          graft.sources.Tables.Fixture(spark, sfDir).documents
            .filter(col("doc_id") > curateCut),
          "text", "doc_id").count()
        ()
      }),
      // the dataset-construction capstone: raw corpus → curate →
      // decontaminate (planted 1% eval) → mixture sample → chunk →
      // deterministic shards in ONE call (TrainingExport.export, incl.
      // the funnel-report counts). Dominated by the curation stage —
      // compare pipeline_curate for the uncomposed lower bound. Fresh
      // temp outDir per run, reclaimed end-of-suite untimed.
      "training_export" -> (() => {
        val out = java.nio.file.Files
          .createTempDirectory("graft-bench-texport").toString
        streamTempDirs += out
        val docs = graft.sources.Tables.Fixture(spark, sfDir).documents
        graft.operators.TrainingExport.export(docs, "text", "doc_id",
          s"$out/shards", nShards = 8,
          evalSet = Some(docs.filter(col("doc_id") % 97 === 0)
            .withColumn("doc_id", col("doc_id") + lit(900000L))),
          mixture = Some(graft.operators.TrainingExport.Mixture("source",
            Map("src1" -> 500, "src2" -> 300), totalBudget = 200000L,
            defaultPermille = 200)),
          chunk = Some(graft.operators.TrainingExport.Chunk(32, 24)))
        ()
      }),
      // the SURVEY §7.4 maintenance job: rebuild every family's stores
      // from the full corpus (documents ⟕ embeddings) at a fresh root —
      // one epoch-0 batch through the concurrent family stages, then the
      // O(1) rebase to the -1 base. This is the periodic re-curation that
      // restores min-id canonicality after a backfill, and the
      // model-refresh path (df dictionary / centroids / codebooks retrain
      // on the FULL corpus). Expected cost class ≈ max(family build) per
      // the concurrent stages — compare curate_store_build (the curate
      // family alone over 99%); the 10× scale story is curate_pipeline's
      // (the batch-curate term dominates, O(corpus) by design). Fresh
      // temp root per run (rebuild refuses an existing root), reclaimed
      // end-of-suite untimed.
      "pipeline_rebuild" -> (() => {
        val root = java.nio.file.Files
          .createTempDirectory("graft-bench-rebuild").toString
        streamTempDirs += root
        val f = graft.sources.Tables.Fixture(spark, sfDir)
        graft.streaming.PipelineIngest.rebuild(spark,
          f.documents.join(
            f.embeddings.select(col("vec_id").as("doc_id"), col("embedding")),
            Seq("doc_id"), "left"),
          s"$root/new", "text", "doc_id", Some("embedding"),
          col("lang") === "en", "lang",
          graft.streaming.PipelineIngest.Config(dedupMinCosine = Some(0.25)))
        ()
      }),
      // end-to-end STREAMING ingest latency: three 1%-of-corpus
      // micro-batches (the sf0.01-sized per-trigger batch the probe
      // entries assume) through the file source → foreachBatch
      // DocIndexIngest.processBatch (LSH probe + every index append +
      // graph fold), with a FRESH store/checkpoint per run so
      // exactly-once never short-circuits a replayed batch. Input files
      // land once, untimed — EAGERLY at entry construction (a lazy val
      // forced inside the first timed run would put three corpus
      // filter+writes into run 1, corrupting a runs=1 record and
      // tripping the auto-remeasure spread flag every round); skipped
      // when an allowlist run excludes the entry. The recorded seconds
      // are the full AvailableNow drain → batches/s = 3 / value. This is
      // the per-micro-batch wall number the streaming run() loops were
      // missing from the artifact set.
      "stream_ingest_latency" -> {
        val streamInDir: String =
          if (only.forall(_("stream_ingest_latency")))
            landIdRangeBatches(
              graft.sources.Tables.Fixture(spark, sfDir).documents, "stream")
          else ""
        () => {
          val root = java.nio.file.Files
            .createTempDirectory("graft-bench-stream-root").toString
          val cp = java.nio.file.Files
            .createTempDirectory("graft-bench-stream-cp").toString
          // per-run (and per auto-remeasure rerun) store/checkpoint dirs
          // are reclaimed at end of suite, untimed — not leaked
          streamTempDirs += root; streamTempDirs += cp
          graft.streaming.DocIndexIngest.run(spark, streamInDir, root,
            graft.sources.Tables.Fixture(spark, sfDir).documents.schema,
            "text", "doc_id", cp, maxFilesPerTrigger = 1).awaitTermination()
          ()
        }
      },
      // the UNIFIED loop's end-to-end latency — the same three 1%
      // id-range micro-batches, now each carrying its embeddings, through
      // PipelineIngest.run: curation + every doc index + text-model folds
      // + embedding dedup-at-ingest under ONE checkpoint/epoch (the
      // reference's one-Lambda shape). Compare against
      // stream_ingest_latency (doc-index family alone) for the cost of
      // the full composition; batches/s = 3 / value.
      "pipeline_ingest_latency" -> {
        val pipeInDir: String =
          if (only.forall(_("pipeline_ingest_latency"))) {
            val f = graft.sources.Tables.Fixture(spark, sfDir)
            landIdRangeBatches(f.documents.join(
              f.embeddings.select(col("vec_id").as("doc_id"), col("embedding")),
              Seq("doc_id"), "left"), "pipe")
          } else ""
        // schema derived UNTIMED at entry construction: a per-run footer
        // read inside the thunk would bill a constant setup job to every
        // run (and contaminate the vs-stream_ingest_latency comparison)
        val pipeSchema: org.apache.spark.sql.types.StructType =
          if (pipeInDir.nonEmpty) spark.read.parquet(pipeInDir).schema else null
        () => {
          val root = java.nio.file.Files
            .createTempDirectory("graft-bench-pipe-root").toString
          val cp = java.nio.file.Files
            .createTempDirectory("graft-bench-pipe-cp").toString
          streamTempDirs += root; streamTempDirs += cp
          graft.streaming.PipelineIngest.run(spark, pipeInDir, root, pipeSchema,
            "text", "doc_id", Some("embedding"),
            col("lang") === "en", "lang", cp,
            graft.streaming.PipelineIngest.Config(
              dedupMinCosine = Some(0.25)),
            maxFilesPerTrigger = 1).awaitTermination()
          ()
        }
      })

    // Base order is name-sorted (Map iteration is hash-ordered; sorting
    // makes the pre-shuffle list stable so a recorded seed fully
    // reproduces the executed order). The split entries are appended in
    // declaration order; each *_probe self-heals if shuffled ahead of its
    // *_index_build (first timed run pays the build, min-of-runs absorbs).
    val allEntries: Seq[(String, () => Unit)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> (() => { fn(spark, sfDir).count(); () })
      } ++ (("pipeline_curate" -> (() => {
        // the [NS] flagship composition: lang -> quality -> exact dedup ->
        // near dedup (LSH + connected components), end-to-end
        graft.operators.Curation.curate(
          graft.sources.Tables.Fixture(spark, sfDir).documents,
          "text", "doc_id").count()
        ()
      })) +: splitEntries)
    // Seeded order randomization: repeated rounds showed ADJACENT heavy
    // text entries (q_simjoin/q_containment) inflating together, which a
    // fixed suite order can never disentangle from a real regression.
    // Each run executes in a seed-recorded shuffled order — adjacency
    // effects decorrelate across rounds, and any suspicious number can be
    // re-measured under the exact same order via SPARK_GRAFT_BENCH_SEED.
    val orderSeed: Long = sys.env.get("SPARK_GRAFT_BENCH_SEED").map(_.toLong)
      .getOrElse(System.nanoTime())
    val entries = new scala.util.Random(orderSeed)
      .shuffle(only.fold(allEntries)(o => allEntries.filter(e => o(e._1))))

    // per-SEGMENT sentinel labels: each sample records the last completed
    // entry, so a co-tenant load spike localizes to the entries that ran
    // under it instead of contaminating the whole artifact's credibility
    // (round 6's ratio 1.32 could not explain WHICH regressed number to
    // distrust)
    val sentinelLabels = scala.collection.mutable.ArrayBuffer[String]("start")
    val results = entries.zipWithIndex.map { case ((name, thunk), idx) =>
      // the sample runs BEFORE entries(idx), so it closes the segment
      // ending at entries(idx - 1) — labeling it `name` would point the
      // adjudication one entry too late
      if (idx % 12 == 11) {
        sampleSentinels()
        sentinelLabels += entries(idx - 1)._1
      }
      // untimed GC before each entry: checkpointing entries (minhash/CC/
      // curate) leave blocks the ContextCleaner only frees after driver
      // GC; without this, block-manager debris from entry N taxes entry
      // N+1 and the "same binary, same machine" total drifts run-to-run
      // (measured as pipeline_curate 2.4 s vs 3.4 s across otherwise-clean
      // full-suite runs). Same idiom as ScaleBench.
      System.gc(); Thread.sleep(100)
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try { thunk(); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      }
      (name, times)
    }
    sampleSentinels()
    sentinelLabels += "end"

    // ── auto-adjudication: entries whose in-suite max/min run spread
    // exceeds 3× are re-measured once more at the END of the suite
    // (quiet tail, post-GC) with their own sentinel pair — the manual
    // r9/r11/r12 isolated-remeasure protocol, mechanized so a variance
    // event produces its own adjudication record instead of waiting for
    // a verdict to ask. The in-suite mins remain the numbers of record;
    // `remeasure` is the adjudication evidence (a fresh-JVM
    // SPARK_GRAFT_BENCH_ONLY run stays the escalation when the tail
    // remeasure still reads hot). Floor: only entries whose slowest run
    // exceeds 1 s — sub-second entries cross 3× on a single GC pause.
    val spreadFlagged = results.collect {
      case (name, times) if {
        val valid = times.filter(_ >= 0)
        valid.nonEmpty && valid.max > 1.0 && valid.max / valid.min > 3.0
      } => name
    }
    // the PERF GATE's input ([[PerfGate]]): entries whose in-suite min
    // already exceeds their committed band join the remeasure set, so
    // the gate always adjudicates on a quiet-tail number — suite
    // pressure alone must not fire it (nor mask it: the gated value is
    // the min of in-suite and remeasure, and a real regression is slow
    // in both)
    val perfBaselineE = RecallGate.loadBaselineChecked("PERF_BASELINE.json")
    val perfBaseline = perfBaselineE.getOrElse(Map.empty)
    val bandFlagged = results.collect {
      case (name, times) if {
        val valid = times.filter(_ >= 0)
        valid.nonEmpty && perfBaseline.get(name)
          .exists(b => valid.min > PerfGate.band(b))
      } => name
    }
    val flagged = (spreadFlagged ++ bandFlagged).distinct
    val remeasuredMins = scala.collection.mutable.Map[String, Double]()
    val remeasureJson =
      if (flagged.isEmpty) "{}"
      else {
        val thunks = entries.toMap
        val s0 = sentinelOnce()
        val re = flagged.map { name =>
          System.gc(); Thread.sleep(100)
          val ts = (1 to runs).map { _ =>
            val t0 = System.nanoTime()
            try { thunks(name)(); (System.nanoTime() - t0) / 1e9 }
            catch { case _: Throwable => -1.0 }
          }
          val valid = ts.filter(_ >= 0)
          if (valid.nonEmpty) remeasuredMins(name) = valid.min
          "\"" + name + "\":{\"min\":" +
            fmt(if (valid.nonEmpty) valid.min else -1.0) +
            ",\"runs\":[" + ts.map(fmt).mkString(",") + "]}"
        }
        val s1 = sentinelOnce()
        s"""{"sentinel_before":${fmt(s0)},"sentinel_after":${fmt(s1)},"entries":{${re.mkString(",")}}}"""
      }

    // ANN recall@10 vs the exact cosine baseline — the ANN entries and the
    // bloom decontam are the only no-oracle queries (the bloom's guarantee
    // is spec-pinned); ANN quality is recorded here
    // every round instead of living solely in a spec assertion. Skipped
    // when an allowlist excludes every ANN query (local iteration should
    // not pay the cosine scan + k-means training for unrelated entries).
    // Recorded recall = the MEAN over the sweep protocol's query set
    // (graft.tools.RecallProbe: ids 0/17/256/999/4242, each operator at
    // its DECLARED parameters), not the single benched query — the r12
    // artifact recorded q_ann_lsh_mp's best-instrumented query (0.8)
    // while the 4-query sweep read 0.70 at the same budget, overstating
    // the operator's typical recall. One number, one protocol, per round.
    val annNames = Seq("q_ann_lsh", "q_ann_lsh_mp", "q_ann_ivf", "q_ann_pq")
    val recallVals: Seq[(String, Double)] =
      if (only.exists(o => !annNames.exists(o))) Seq.empty
      else try {
        import graft.operators.Similarity
        val emb = graft.sources.Tables.Fixture(spark, sfDir)
          .embeddings.localCheckpoint(true)
        val queryIds = NsQueries.AnnBudget.sweepQueryIds
          .filter(q => emb.filter(col("vec_id") === q).count() > 0)
        def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
          df.select("vec_id").collect().map(_.getLong(0)).toSet
        val exact = queryIds.map(q =>
          q -> ids(Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10))).toMap
        def sweepMean(f: Long => org.apache.spark.sql.DataFrame): Double = {
          // an all-ids-absent fixture must record -1, not 0.0/0 = NaN
          // (NaN throws nothing, so the entry-level catch never fires,
          // and a literal NaN makes the whole JSON line unparseable)
          val rs = queryIds.map(q =>
            ids(f(q)).intersect(exact(q)).size.toDouble / math.max(1, exact(q).size))
          if (rs.isEmpty) -1.0 else rs.sum / rs.size
        }
        // each operator at the parameters its declared query uses —
        // read from the ONE source (NsQueries.AnnBudget) the q_ann_*
        // specs themselves use, so a retune there moves this sweep with
        // it; a thrown sweep records -1, never a hole
        def entry(name: String, f: Long => org.apache.spark.sql.DataFrame): (String, Double) =
          name -> (try sweepMean(f) catch { case _: Throwable => -1.0 })
        import NsQueries.{AnnBudget => B}
        val ann = Seq(
          entry("q_ann_lsh", q => Similarity.annLshMultiProbe(
            emb, "vec_id", "embedding", q, 10, planes = B.planes,
            probeBuckets = B.lshT)),
          entry("q_ann_lsh_mp", q => Similarity.annLshMultiProbe(
            emb, "vec_id", "embedding", q, 10, planes = B.planes,
            probeBuckets = B.lshMpT)),
          entry("q_ann_ivf", q => Similarity.annIvf(
            emb, "vec_id", "embedding", q, 10, nlist = B.nlist,
            nprobe = B.nprobe)),
          entry("q_ann_pq", q => Similarity.annPq(
            emb, "vec_id", "embedding", q, 10))
        ) ++ {
          // the composed IVF-PQ probe's sweep, against the same stored
          // index the ivfpq_probe entry timed (self-heals if absent)
          try {
            if (!builtThisRun("emb")) buildIvfIndex()
            val root = s"$idxRoot/emb"
            val codes = graft.streaming.EmbIndexIngest.readCodes(spark, root)
            val vecs = graft.streaming.EmbIndexIngest.readVectors(spark, root)
            val cents = graft.streaming.EmbIndexIngest.readCentroids(spark, root)
            val books = graft.streaming.EmbIndexIngest.readBooks(spark, root)
            def qv(q: Long): Array[Float] = emb.filter(col("vec_id") === q)
              .select(col("embedding")).head().getSeq[Float](0).toArray
            Seq(entry("ivfpq_probe", q => graft.operators.Similarity.annIvfPqProbe(
              codes, vecs, cents, books, qv(q), "vec_id", "embedding",
              excludeId = q, k = 10, nprobe = NsQueries.AnnBudget.nprobe)))
          } catch { case _: Throwable => Seq("ivfpq_probe" -> -1.0) }
        }
        ann
      } catch {
        // a throw in the SHARED setup (embeddings fixture load, the
        // exact-cosine baseline) is a completely broken recall
        // measurement — record every operator as -1 so the gate FAILS,
        // instead of an empty map the gate reads as a partial run
        case _: Throwable => (annNames :+ "ivfpq_probe").map(_ -> -1.0)
      }
    val recallJson = recallVals
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // semantic near-dedup planted-pair recall (same construction as the
    // SimilaritySpec pin): every vec_id < 200 gets a scaled copy at
    // id+1e6 — direction-identical, so each (id, id+1e6) pair should be
    // recovered; recall = recovered fraction. Filed under its OWN key —
    // it is a planted-pair recall, NOT a recall@10 — and a thrown
    // exception records -1 instead of silently dropping the entry (a
    // regression must surface as a marker, not a missing JSON key).
    val plantedRecall: Double =
      if (only.exists(o => !o("q_semantic_dedup"))) Double.NaN
      else try {
        val emb = graft.sources.Tables.Fixture(spark, sfDir)
          .embeddings.filter("vec_id < 200")
        val planted = emb.selectExpr("vec_id + 1000000 AS vec_id",
          "transform(embedding, v -> CAST(v * 1.5 AS FLOAT)) AS embedding", "label")
        val ids = emb.select("vec_id").collect().map(_.getLong(0))
        val pairs = graft.operators.Similarity
          .semanticNearDup(emb.unionByName(planted), "vec_id", "embedding",
            nlist = 8, minCosine = 0.95)
          .select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        ids.count(i => pairs.contains((i, i + 1000000L))).toDouble /
          math.max(1, ids.length)
      } catch { case _: Throwable => -1.0 }
    val plantedJson =
      if (plantedRecall.isNaN) "{}"
      else "{\"q_semantic_dedup\":" + fmt(plantedRecall) + "}"

    // the recall regression gate ([[RecallGate]]): fresh sweep vs the
    // committed prior record — an ANN index-parameter drift cannot land
    // silently green on the oracle (the ANN queries HAVE no oracle).
    // Partial (allowlisted) runs check only what they measured; a
    // thrown sweep's -1 FAILS the gate rather than passing by absence.
    val recallBaselineE = RecallGate.loadBaselineChecked("RECALL_BASELINE.json")
    val recallBaseline = recallBaselineE.getOrElse(Map.empty)
    // the RATCHET: a baseline recorded under a different AnnBudget is
    // stale — its recalls are not comparable to this sweep's, so gating
    // against it would false-fire (budget lowered) or silently pass a
    // real drop (budget raised). Refuse it loudly; the fix is one
    // RecallBaselineGen run on a record measured under the new budget.
    val liveStamp = {
      import NsQueries.{AnnBudget => B}
      RecallGate.budgetStamp(B.planes, B.lshT, B.lshMpT, B.nlist, B.nprobe)
    }
    val recallError: Option[String] = recallBaselineE.left.toOption.orElse {
      val fileStamp = RecallGate.readStamp("RECALL_BASELINE.json")
      if (recallBaseline.nonEmpty && !fileStamp.contains(liveStamp))
        Some("baseline stale - _budget " + fileStamp.getOrElse("(absent)") +
          " != live " + liveStamp +
          "; regenerate via graft.tools.RecallBaselineGen on a record " +
          "measured under the live budget")
      else None
    }
    val recallGate: Map[String, (Double, Double)] = {
      val current = recallVals.toMap ++
        (if (plantedRecall.isNaN) Map.empty[String, Double]
         else Map("q_semantic_dedup_planted" -> plantedRecall))
      RecallGate.violations(current, recallBaseline)
    }
    if (recallGate.nonEmpty || recallError.isDefined)
      System.err.println("[bench] RECALL GATE FAILED: " +
        (recallError.toSeq ++ recallGate.toSeq.sortBy(_._1)
          .map { case (k, (b, c)) => s"$k ${fmt(c)} < ${fmt(b)} - ${RecallGate.DefaultTolerance}" })
          .mkString("; "))
    val recallGateJson = RecallGate.renderJson(recallGate, recallBaseline.size,
      recallVals.size + (if (plantedRecall.isNaN) 0 else 1),
      error = recallError)

    def agg(f: Seq[Double] => Double): Seq[(String, Double)] =
      results.map { case (name, ts) =>
        name -> (if (ts.exists(_ < 0)) -1.0 else f(ts))
      }
    def objOf(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val mins = agg(_.min)
    val meds = agg(median)
    // the PERF GATE verdict: per-entry adjudicated min (the lower of
    // in-suite and quiet-tail remeasure — any observed fast run proves
    // the code still CAN run fast; a real regression is slow in both)
    // vs the committed band. A corrupt baseline file fails the gate
    // rather than silently disabling it; an absent one is vacuous.
    val perfAdjudicated: Map[String, Double] = mins.collect {
      case (k, v) if v >= 0 =>
        k -> remeasuredMins.get(k).filter(_ >= 0).fold(v)(math.min(v, _))
    }.toMap
    // the ERA RATCHET ([[PerfGate.eraError]]): compare this run's IO
    // sentinel floor against the era the baseline was recorded under. A
    // stale (slower) write era names the root cause ONCE in the gate
    // error — the write-path violations below it are then weather (r16:
    // ivf_index_build fired on unchanged code) — while the violations
    // stay REPORTED: a pure-compute regression in the same round must
    // not ship unflagged behind the era message. A present-but-broken
    // stamp fails the gate outright (corrupt-baseline discipline).
    val ioValid = ioSentinels.filter(_ > 0)
    val ioMin = if (ioValid.nonEmpty) ioValid.min else -1.0
    val eraErr = PerfGate.readIoEra("PERF_BASELINE.json")
      .fold(broken => Some(broken), stamp => PerfGate.eraError(stamp, ioMin))
    val perfViol = PerfGate.violations(perfAdjudicated, perfBaseline)
    val perfError = perfBaselineE.left.toOption.orElse(eraErr)
    if (perfViol.nonEmpty || perfError.isDefined)
      System.err.println("[bench] PERF GATE FAILED: " +
        (perfError.toSeq ++ perfViol.toSeq.sortBy(_._1).map { case (k, (b, c)) =>
          s"$k ${fmt(c)}s > band(${fmt(b)}s)" }).mkString("; "))
    val perfGateJson = PerfGate.renderJson(perfViol, perfBaseline.size,
      perfAdjudicated.size, perfError)
    val perfGateShort =
      if (perfBaselineE.isLeft) "FAIL:baseline"
      else if (eraErr.isDefined) "FAIL:era"
      else if (perfViol.isEmpty) "ok"
      else perfViol.keys.toSeq.sorted.mkString("FAIL:", ",", "")
    val runArrays = results.map { case (name, ts) =>
      "\"" + name + "\":[" + ts.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = mins.collect { case (_, v) if v >= 0 => v }.sum
    val totalMed = meds.collect { case (_, v) if v >= 0 => v }.sum
    val sMin = sentinels.min
    val sMax = sentinels.max
    val ioMax = if (ioValid.nonEmpty) ioValid.max else -1.0
    val sentinelJson =
      "{\"runs\":[" + sentinels.map(fmt).mkString(",") + "]" +
        ",\"after_entry\":[" + sentinelLabels.map("\"" + _ + "\"").mkString(",") + "]" +
        ",\"load_avg\":[" + loadAvgs.map(fmt).mkString(",") + "]" +
        ",\"io_runs\":[" + ioSentinels.map(fmt).mkString(",") + "]" +
        ",\"io_min\":" + fmt(ioMin) + ",\"io_max\":" + fmt(ioMax) +
        ",\"io_ratio\":" + fmt(if (ioMin > 0) ioMax / ioMin else -1.0) +
        ",\"min\":" + fmt(sMin) + ",\"max\":" + fmt(sMax) +
        ",\"ratio\":" + fmt(if (sMin > 0) sMax / sMin else -1.0) + "}"
    // Full-precision detail artifact: per-run arrays, medians, sentinel
    // samples, recall. Written to the repo root so it survives the round
    // even though the harness only keeps the last 2000 chars of stdout.
    // An allowlisted (SPARK_GRAFT_BENCH_ONLY) local-iteration run goes to
    // BENCH_PARTIAL.json instead, so it can never clobber the round's
    // complete record.
    // self-describing coverage: "value" sums only runnable entries, so the
    // counts of runnable vs broken (-1) entries ride along — a partial-
    // coverage total must never silently read as a full-suite speedup
    val runnable = mins.count(_._2 >= 0)
    val broken = mins.length - runnable
    val orderJson = entries.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","stat":"min_of_$runs","entries":${mins.length},"runnable":$runnable,"broken":$broken,"order_seed":$orderSeed,"order":$orderJson,"queries":${objOf(mins)},"queries_median":${objOf(meds)},"total_median":${fmt(totalMed)},"runs":$runArrays,"sentinel":$sentinelJson,"remeasure":$remeasureJson,"recall_at_10":$recallJson,"planted_recall":$plantedJson,"recall_gate":$recallGateJson,"perf_gate":$perfGateJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        if (only.isDefined) "BENCH_PARTIAL.json" else "BENCH_FULL.json"),
      fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }

    // Headline line, kept under the harness's 2000-char tail window (the
    // capture keeps the LAST 2000 chars, so an overlong line loses its
    // opening brace and the artifact records parsed:null): compact
    // per-query mins — most expensive first, cheapest dropped until the
    // line fits a 1900-char budget ("omitted" counts them; the full map is
    // always in BENCH_FULL.json) — plus the sentinel contamination ratio.
    // This is the parse target; per-query values are min-of-`runs`.
    val sfShort = sfDir.reverse.takeWhile(_ != '/').reverse
    def line(qJson: String, omitted: Int): String =
      s"""{"metric":"total","value":${fmtC(total)},"unit":"sec","runs":$runs,"runnable":$runnable,"broken":$broken,"order_seed":$orderSeed,"queries":$qJson,"omitted":$omitted,"sentinel_ratio":${fmtC(if (sMin > 0) sMax / sMin else -1.0)},"io_sentinel":${fmtC(ioMin)},"recall_gate":"${if (recallError.isDefined) "FAIL:baseline" else if (recallGate.isEmpty) "ok" else recallGate.keys.toSeq.sorted.mkString("FAIL:", ",", "")}","perf_gate":"$perfGateShort","sf":"$sfShort","detail":"BENCH_FULL.json"}"""
    val byCost = mins.sortBy { case (_, v) => -v }
      .map { case (k, v) => "\"" + k + "\":" + fmtC(v) }
    val budget = 1900 - line("{}", mins.length).length
    val kept = scala.collection.mutable.ArrayBuffer[String]()
    var used = 2 // braces
    byCost.foreach { e =>
      if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
    }
    println(line(kept.mkString("{", ",", "}"), mins.length - kept.length))
    streamTempDirs.foreach(d => rmTree(new java.io.File(d)))
    spark.stop()
  }
}

/** Store builders shared by [[Bench]]'s split probe entries and
  * [[JobProfile]] — ONE copy of the corpus cut and index layout
  * (k/bands/threshold/partitionMod), so the profiler always profiles
  * exactly the layout the bench measures; a retune here retunes both.
  */
private[graft] object BenchStores {
  import org.apache.spark.sql.functions.{col, lit, pmod}

  /** The stored-index corpus: everything but the 20% probe slice. */
  def corpusDocs(spark: SparkSession, sfDir: String) =
    graft.sources.Tables.Fixture(spark, sfDir).documents
      .filter(col("doc_id") % 5 =!= 0)

  // class-keyed write layout (IngestStages idiom); these are CORPUS-sized
  // one-shot builds, so `maxRecordsPerFile` bounds per-class file size
  // (r18 — the class repartition alone would emit ONE unbounded file per
  // class, starving probe-side read parallelism as the corpus grows)
  def buildLshIndex(spark: SparkSession, sfDir: String, idxRoot: String): Unit =
    graft.operators.Dedup
      .bandBuckets(corpusDocs(spark, sfDir), "text", "doc_id", 16, 4)
      .withColumn("bmod",
        pmod(graft.functions.TextFns.h60(col("bucket")), lit(64L)))
      .repartition(col("bmod"))
      .write.mode("overwrite").option("maxRecordsPerFile", "1000000")
      .partitionBy("bmod").parquet(s"$idxRoot/lsh")

  def buildPrefixIndex(spark: SparkSession, sfDir: String, idxRoot: String): Unit = {
    val (prefix, dfT) = graft.operators.Dedup
      .similarityIndex(corpusDocs(spark, sfDir), "text", "doc_id", 50)
    prefix.withColumn("hmod", pmod(col("h"), lit(64L)))
      .repartition(col("hmod"))
      .write.mode("overwrite").option("maxRecordsPerFile", "1000000")
      .partitionBy("hmod").parquet(s"$idxRoot/prefix")
    dfT.write.mode("overwrite").parquet(s"$idxRoot/df")
  }
}
