package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** Dev utility: per-JOB wall-time breakdown of the stored-index probe
  * entries — `runMain graft.JobProfile [sfDir] [entry]`. The bench's
  * per-entry number is one aggregate; when a probe's cost is "fixed
  * overhead", this shows WHICH of its sequential Spark jobs (broadcast
  * builds, checkpoints, driver collects, the final count) carries it.
  * Mirrors the Bench split-entry invocations exactly (same index layout
  * under target/bench_idx, same fixtures).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val entry = if (args.length > 1) args(1) else "simjoin_probe_small"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]", 32)
    spark.sparkContext.setLogLevel("ERROR")

    val idxRoot = "target/bench_idx"
    def corpusDocs = BenchStores.corpusDocs(spark, sfDir)
    def smallBatch = graft.sources.Tables.Fixture(spark, sfDir).documents
      .filter(col("doc_id") % 100 === 0)
    def bigBatch = graft.sources.Tables.Fixture(spark, sfDir).documents
      .filter(col("doc_id") % 5 === 0)
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete(); ()
    }
    // computed ONCE, outside run(): a fixture max() scan inside the
    // timed run would bill the profiled trigger a job a real ingest
    // trigger never performs (lazy — forced by the store build or the
    // untimed warmup)
    lazy val maxDocId: Long = graft.sources.Tables.Fixture(spark, sfDir)
      .documents.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .head().getLong(0)

    var rebuildRuns = 0
    def run(): Unit = entry match {
      case "simjoin_probe_small" | "simjoin_probe" =>
        graft.operators.Dedup.similarityJoinIncremental(
          spark.read.parquet(s"$idxRoot/prefix"), spark.read.parquet(s"$idxRoot/df"),
          corpusDocs, if (entry.endsWith("small")) smallBatch else bigBatch,
          "text", "doc_id", 50, partitionMod = 64).count()
        ()
      case "minhash_probe_small" | "minhash_probe" =>
        graft.operators.Dedup.minhashPairsIncremental(
          spark.read.parquet(s"$idxRoot/lsh"), corpusDocs,
          if (entry.endsWith("small")) smallBatch else bigBatch,
          "text", "doc_id", 16, 4, 50, 64, partitionMod = 64).count()
        ()
      case "pagerank_probe" | "cc_probe" | "dedup_best_probe" =>
        (entry match {
          case "pagerank_probe" =>
            graft.streaming.GraphIngest.pageRankProbe(spark, s"$idxRoot/graph")
          case "cc_probe" =>
            graft.streaming.GraphIngest.ccLabelsProbe(spark, s"$idxRoot/graph")
          case _ =>
            graft.streaming.GraphIngest.dedupBestProbe(spark, s"$idxRoot/graph",
              graft.sources.Tables.Fixture(spark, sfDir).documents,
              "text", "doc_id")
        }).count()
        ()
      case "curate_probe" =>
        val docs = graft.sources.Tables.Fixture(spark, sfDir).documents
        val cut = maxDocId * 99L / 100L
        graft.streaming.CurateIngest.curateProbe(spark, s"$idxRoot/curate",
          docs.filter(col("doc_id") > cut), "text", "doc_id").count()
        ()
      case "curate_build" =>
        // the one-shot epoch-0 store build (Bench's curate_store_build):
        // a fresh root per run — the per-job breakdown decomposes the
        // batch materialize / canonical pass / LSH probe / store appends
        rmTree(new java.io.File(s"$idxRoot/curate_build_profile"))
        val docs = graft.sources.Tables.Fixture(spark, sfDir).documents
        graft.streaming.CurateIngest.processBatch(spark,
          docs.filter(col("doc_id") <= maxDocId * 99L / 100L),
          s"$idxRoot/curate_build_profile", "text", "doc_id", 0L)
        ()
      case "stream_ingest" =>
        // ONE DocIndexIngest trigger: re-process the 1% batch the store
        // was pre-built without (warmup = first ingest; timed = epoch
        // replay — identical work, and the per-stage labels from
        // IngestStages land in the job descriptions below)
        val docs = graft.sources.Tables.Fixture(spark, sfDir).documents
        graft.streaming.DocIndexIngest.processBatch(spark,
          docs.filter(col("doc_id") > maxDocId * 97L / 100L &&
            col("doc_id") <= maxDocId * 98L / 100L),
          s"$idxRoot/stream_ingest", "text", "doc_id", 1L)
        ()
      case "pipeline_ingest" =>
        // ONE unified-loop trigger against a pre-built three-family
        // store: the family stages (pipeline:curate / text_models /
        // embeddings) and their nested store stages all label their jobs
        val f = graft.sources.Tables.Fixture(spark, sfDir)
        val batch = f.documents
          .filter(col("doc_id") > maxDocId * 97L / 100L &&
            col("doc_id") <= maxDocId * 98L / 100L)
          .join(f.embeddings.select(col("vec_id").as("doc_id"), col("embedding")),
            Seq("doc_id"), "left")
        graft.streaming.PipelineIngest.processBatch(spark, batch,
          s"$idxRoot/pipeline_ingest", "text", "doc_id", Some("embedding"),
          col("lang") === "en", "lang", 1L,
          graft.streaming.PipelineIngest.Config(dedupMinCosine = Some(0.25)))
        ()
      case "pipeline_rebuild" =>
        // the §7.4 maintenance job: one full-corpus rebuild at a FRESH
        // root per run (rebuild refuses an existing one — the counter
        // path keeps the warmup's and timed run's roots distinct). The
        // IngestStages labels (pipeline:curate / text_models /
        // embeddings + their nested store stages) decompose where the
        // wall goes and substantiate the bench comment's
        // "≈ max(family build) under concurrent stages" claim.
        val f = graft.sources.Tables.Fixture(spark, sfDir)
        rebuildRuns += 1
        graft.streaming.PipelineIngest.rebuild(spark,
          f.documents.join(
            f.embeddings.select(col("vec_id").as("doc_id"), col("embedding")),
            Seq("doc_id"), "left"),
          s"$idxRoot/rebuild_profile/r$rebuildRuns", "text", "doc_id",
          Some("embedding"), col("lang") === "en", "lang",
          graft.streaming.PipelineIngest.Config(dedupMinCosine = Some(0.25)))
        ()
      case other => sys.error(s"unknown entry: $other")
    }

    // prefix/lsh/graph stores: rebuilt UNCONDITIONALLY per invocation
    // via the builders SHARED with Bench (BenchStores — one copy of the
    // corpus cut and layout). Directory existence says nothing about
    // which sfDir built a store: trusting it profiled an sf0.1-built
    // index against an sf0.01 batch with no error. Built before the
    // warmup, so the timed run profiles the probe's jobs only.
    entry match {
      case "simjoin_probe_small" | "simjoin_probe" =>
        rmTree(new java.io.File(s"$idxRoot/prefix"))
        rmTree(new java.io.File(s"$idxRoot/df"))
        BenchStores.buildPrefixIndex(spark, sfDir, idxRoot)
      case "minhash_probe_small" | "minhash_probe" =>
        rmTree(new java.io.File(s"$idxRoot/lsh"))
        BenchStores.buildLshIndex(spark, sfDir, idxRoot)
      case "pagerank_probe" | "cc_probe" | "dedup_best_probe" =>
        rmTree(new java.io.File(s"$idxRoot/graph"))
        graft.streaming.GraphIngest.ingestPairs(spark,
          graft.operators.Dedup.minhashPairs(
            graft.sources.Tables.Fixture(spark, sfDir).documents,
            "text", "doc_id", 16, 4, 50, 64),
          s"$idxRoot/graph", 0L)
        ()
      case _ => ()
    }

    // stream_ingest/pipeline_ingest stores: the corpus below the
    // profiled batch's id range, built once before the warmup (rebuilt
    // per invocation — the curate_probe staleness discipline)
    if (entry == "stream_ingest" || entry == "pipeline_ingest") {
      rmTree(new java.io.File(s"$idxRoot/$entry"))
      val f = graft.sources.Tables.Fixture(spark, sfDir)
      val docs = f.documents
      val base = docs.filter(col("doc_id") <= maxDocId * 97L / 100L)
      if (entry == "stream_ingest")
        graft.streaming.DocIndexIngest.processBatch(spark, base,
          s"$idxRoot/stream_ingest", "text", "doc_id", 0L)
      else
        graft.streaming.PipelineIngest.processBatch(spark,
          base.join(f.embeddings.select(col("vec_id").as("doc_id"), col("embedding")),
            Seq("doc_id"), "left"),
          s"$idxRoot/pipeline_ingest", "text", "doc_id", Some("embedding"),
          col("lang") === "en", "lang", 0L,
          graft.streaming.PipelineIngest.Config(dedupMinCosine = Some(0.25)))
    }

    // curate store: rebuilt UNCONDITIONALLY per invocation (Bench's
    // buildCurateStore discipline) — the store's persisted config only
    // catches PARAMETER drift; a store left by a different-sfDir run
    // passes the config check yet makes the probe measure against
    // mismatched data. Built once here, before the warmup, so the timed
    // run profiles the probe's jobs only.
    if (entry == "curate_probe") {
      rmTree(new java.io.File(s"$idxRoot/curate"))
      val docs = graft.sources.Tables.Fixture(spark, sfDir).documents
      graft.streaming.CurateIngest.processBatch(spark,
        docs.filter(col("doc_id") <= maxDocId * 99L / 100L),
        s"$idxRoot/curate", "text", "doc_id", 0L)
    }

    // rebuild roots: a prior invocation's r1/r2 would collide with the
    // fresh-root require — cleared before the warmup, outside the timing
    if (entry == "pipeline_rebuild")
      rmTree(new java.io.File(s"$idxRoot/rebuild_profile"))

    // optional conf overrides for A/B runs, e.g.
    //   SPARK_GRAFT_PROFILE_CONF=spark.sql.adaptive.enabled=false
    sys.env.get("SPARK_GRAFT_PROFILE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })

    // warmup (untimed): JIT + parquet footer caches, like Bench's warmup
    run()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = scala.collection.mutable.ArrayBuffer[(Int, String, Double)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(js.jobId, (desc, System.nanoTime()))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (desc, t0) =>
          done.synchronized {
            done += ((je.jobId, desc, (System.nanoTime() - t0) / 1e9))
          }
        }
      }
    })
    val t0 = System.nanoTime()
    run()
    val wall = (System.nanoTime() - t0) / 1e9
    // listener bus is async; give it a beat to drain before reporting
    Thread.sleep(500)
    println(f"== $entry%s wall=$wall%.3f s, ${done.size}%d jobs ==")
    done.sortBy(_._1).foreach { case (id, desc, sec) =>
      println(f"  job $id%3d  $sec%7.3f s  ${desc.take(110)}%s")
    }
    println(f"  sum(jobs) = ${done.map(_._3).sum}%.3f s; gap (driver/plan) = ${wall - done.map(_._3).sum}%.3f s")
    spark.stop()
  }
}
