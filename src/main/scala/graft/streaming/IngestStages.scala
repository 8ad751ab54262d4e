package graft.streaming

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Per-batch stage plumbing shared by the ingest loops: the one loop
  * skeleton every family's `run()` starts ([[loop]]), named stages (a
  * Spark job description per stage, so `graft.JobProfile`'s per-job wall
  * breakdown is self-describing), CONCURRENT submission of the
  * independent ones, and the one batch-keyed dynamic-overwrite writer
  * every store family's exactly-once contract rides on.
  *
  * Why concurrency here at all, in a declarative-Spark codebase: an
  * ingest trigger's cost at micro-batch size is not data — it is the
  * per-JOB fixed overhead (plan + submit + task launch + parquet commit,
  * ~0.3–0.6 s each at sf0.1) times the NUMBER of store writes, and the
  * writes are independent appends to disjoint directories reading one
  * already-materialized (localCheckpoint'd) batch. Submitting them from
  * one thread serializes pure overhead; submitting them concurrently
  * overlaps it — the scheduler interleaves the small jobs exactly as it
  * would concurrent queries. This changes WHEN jobs run, never what they
  * write: each write's content and layout stay deterministic, so the
  * replay/exactly-once contracts are untouched (spec-pinned by the
  * existing store-equality suites, which run against this path).
  *
  * The pool is CACHED (unbounded), not fixed: [[inParallel]] blocks its
  * calling thread until its stages settle, and the unified loop nests —
  * a family-level stage can itself fan out store-level stages. A fixed
  * pool whose threads all block in the outer Await is a deadlock waiting
  * for load; a cached pool cannot deadlock, and the thread count is
  * naturally bounded by the handful of concurrent stages a trigger has
  * (threads are submission-bound, not CPU-bound, and idle ones are
  * reclaimed). Daemon threads — never blocks JVM exit.
  */
private[streaming] object IngestStages {
  private lazy val pool: ExecutionContext = ExecutionContext.fromExecutorService(
    Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-ingest-stage")
      t.setDaemon(true)
      t
    }))

  /** The file-discovered parquet source of the document and embedding
    * loops: new files under `inDir` are the batch stream, at most
    * `maxFilesPerTrigger` of them per micro-batch ([[IngestJob.run]]'s
    * discovery model, over parquet instead of JSON envelopes).
    */
  def source(spark: SparkSession, schema: StructType,
             maxFilesPerTrigger: Int, inDir: String): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)

  /** THE ingest loop: start `body` over every micro-batch of `src`. Its
    * `foreachBatch` contract (Structured Streaming, SIGMOD 2018) is one
    * epoch id per committed micro-batch, and a replay of the uncommitted
    * one under the same id on restart; the batch-keyed overwrites
    * ([[overwriteParts]]) turn that into exactly-once stores.
    *
    * `compactEvery` is the in-loop tier-fold cadence: at each nth epoch,
    * BEFORE the body (so the batch's own store reads open the folded
    * runs), `fold` gets `upTo = epochId − 1` to tier-fold with
    * `fromExclusive = −1` — ALL live real epochs, not a sliding window, so
    * a cadence whose window held <2 partitions for some store (a
    * vector-less batch, say) is caught by the next one instead of skipped
    * forever. Safe inside `foreachBatch`: the loop is the single writer,
    * and epochs ≤ epochId−1 are checkpoint-committed. A replayed trigger
    * re-runs the fold over an emptied range — a no-op.
    *
    * A non-positive cadence fails HERE, at the `run()` call, before `src`
    * (by-name) resolves its input and before any checkpoint state exists —
    * not as a first-trigger StreamingQueryException.
    */
  def loop(src: => DataFrame, checkpointDir: String, trigger: Trigger,
           compactEvery: Option[Int] = None, fold: Long => Unit = _ => ())
          (body: (DataFrame, Long) => Unit): StreamingQuery = {
    compactEvery.foreach(n =>
      require(n > 0, s"compactEvery must be positive, got $n"))
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        compactEvery.foreach { n =>
          if (epochId > 0 && epochId % n == 0) fold(epochId - 1L)
        }
        body(batch, epochId)
      }
      .start()
  }

  /** Spark thread-local properties a stage must CARRY FROM ITS CALLER,
    * not inherit from whichever thread happened to create the pooled
    * worker: `SparkContext.localProperties` is an InheritableThreadLocal
    * snapshotted at thread CREATION, so a cached-pool thread born under
    * streaming query A's microbatch thread would otherwise submit query
    * B's stage jobs inside A's job group forever — `A.stop()`'s
    * cancelJobGroup would then interrupt B's in-flight writes (and B's
    * own stop couldn't find its jobs). Explicitly setting the caller's
    * values (null clears a stale inherited one) on the worker per task
    * removes the whole class. The streaming query and batch ids ride
    * along for the same reason: without them a stage job cannot be
    * attributed to its trigger, or is attributed to a stale one.
    */
  private val carriedProps =
    Seq("spark.jobGroup.id", "spark.job.interruptOnCancel",
      "spark.scheduler.pool", "streaming.sql.batchId", "sql.streaming.queryId")

  /** Run `f`'s Spark jobs under a stage label on the current thread,
    * restoring the PREVIOUS description after (a null-out would wipe the
    * streaming engine's own description — and any enclosing stage's —
    * for the rest of the thread's jobs).
    */
  def stage[T](spark: SparkSession, label: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(prev)
  }

  /** Run the named stages CONCURRENTLY and wait for all; failures
    * propagate after every stage settles (cancelling sibling writes
    * mid-flight would leave more torn work for the replay to overwrite
    * than letting them finish), with the first failure thrown and the
    * rest attached as suppressed — a two-failure trigger must not hide
    * its second root cause.
    */
  def inParallel(spark: SparkSession, stages: (String, () => Unit)*): Unit = {
    implicit val ec: ExecutionContext = pool
    val sc = spark.sparkContext
    val carried = carriedProps.map(k => k -> sc.getLocalProperty(k))
    val futs = stages.map { case (label, f) =>
      Future {
        carried.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        try stage(spark, label)(f())
        finally carriedProps.foreach(sc.setLocalProperty(_, null))
      }
    }
    val settled = Await.result(
      Future.sequence(futs.map(_.transform(scala.util.Success(_)))),
      Duration.Inf)
    val failures = settled.collect { case scala.util.Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.drop(1).foreach(first.addSuppressed)
      throw first
    }
  }

  /** True when `df` is already backed by materialized blocks — a
    * `localCheckpoint`, possibly under pure column pruning (a Project of
    * plain attributes over the checkpointed RDD). The composed ingest
    * paths use this to SKIP a redundant re-materialization of a frame
    * their caller already checkpointed: the blocks are in memory, and
    * re-running a narrow column prune per consumer is cheaper than one
    * more full-copy materialization job per trigger. Anything with real
    * computation on top (filters, new columns) still checkpoints: those
    * WOULD re-run per consumer. Measured honestly: WALL-NEUTRAL at
    * sf0.1 (isolated A/B 18.9→19.3 s pipeline / 14.9→15.6 s stream,
    * inside session noise at sentinels 1.01/1.04) — the removed jobs
    * overlapped the concurrent stages, so the win is not latency but
    * block-manager footprint: one batch copy per trigger instead of
    * three, which is what matters when executors hold many concurrent
    * triggers' blocks at real scale.
    */
  def isBlockBacked(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.analyzed match {
      case _: LogicalRDD => true
      case p: Project =>
        p.child.isInstanceOf[LogicalRDD] &&
          p.projectList.forall(_.isInstanceOf[Attribute])
      case _ => false
    }
  }

  /** [[isBlockBacked]]-gated materialization: the idiom every ingest
    * `processBatch` opens with.
    */
  def materialize(df: DataFrame): DataFrame =
    if (isBlockBacked(df)) df else df.localCheckpoint(true)

  /** THE batch-keyed exactly-once write — `batch_id` leads the partition
    * columns and dynamic overwrite makes a replayed epoch rewrite its own
    * partitions instead of appending duplicates. Single-sourced here
    * because every store family's replay contract is this one idiom; a
    * semantics change must happen once, not in five private copies.
    *
    * CLASS-partitioned appends (a mod column beyond `batch_id`: bmod /
    * hmod / tmod / fmod) repartition by the partition columns first: the
    * batch frame arrives with N input partitions and the write would
    * otherwise emit up to N × M files of a few rows each — a small-files
    * + commit-rename storm per trigger (M=64 classes × a 32-split batch
    * = 2048 files) that is pure overhead at micro-batch size and the
    * write profile the r16 era drift amplified. One exchange of the
    * (hash/id-sized, never text-heavy) index rows buys one file per
    * touched class per batch — the layout the per-class partition prune
    * wants, and exactly what [[StoreCompaction]] folds. Batches are
    * micro-batch-sized by the ingest contract, so a single file per
    * (batch, class) is the right size at any corpus scale; corpus-sized
    * one-shot builds size their files via their own rebalance
    * (e.g. [[graft.streaming.DocIndexIngest.refreshDictionary]]).
    * Batch-id-only writes (corpus/pairs/stats/meta) keep their input
    * layout — their row payloads can be text-heavy and their file counts
    * are already bounded by the batch's own partitioning.
    */
  def overwriteParts(df: DataFrame, partCols: Seq[String], dir: String): Unit = {
    // The arity rule: every multi-column write here is batch_id + a mod
    // class, so more than one partition column means class-keyed. A write
    // partitioned by two NON-class columns (e.g. batch_id+date over
    // text-heavy rows) would silently get the full-row exchange this doc
    // says batch-id-only writes avoid — it needs its own writer.
    val laid =
      if (partCols.size > 1)
        df.repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
      else df
    laid.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      // micro-batches never reach 1M rows per class (no-op there); the
      // one-shot corpus-sized ingests that reuse this path (the bench's
      // epoch-0 builds) get size-bounded files like StoreCompaction's
      .option("maxRecordsPerFile", "1000000")
      .partitionBy(partCols: _*)
      .parquet(dir)
  }
}
