package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture/table loaders.
  *
  * The engine's canonical store is partitioned Parquet (columnar, splittable,
  * min/max row-group skipping — the 100 TB-scale answer to the reference's
  * Postgres heap table `api_audit`, DDL at
  * `reference/src/scripts/setup-db.ts:55-68`). All loaders go through
  * `spark.read.parquet`, so Catalyst predicate pushdown and column pruning
  * reach the scan for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one fixture table, converting Spark's path-level failure into a
    * named, single-cause error. Without this, an environment drift (missing
    * file, regenerated directory) surfaces as dozens of correlated
    * `PATH_NOT_FOUND` analysis failures deep inside unrelated query plans
    * instead of one message naming the table.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    try spark.read.parquet(path)
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalStateException(
          s"graft fixture table '$name' missing or unreadable at $path " +
            s"(regenerated testdata? wrong SF dir?): ${e.getMessage}", e)
    }
  }

  /** Named guard for fixture schema drift: every required column must be
    * present, else one clear error instead of N correlated resolution
    * failures downstream.
    */
  def requireColumns(df: DataFrame, table: String, cols: String*): DataFrame = {
    val have = df.columns.toSet
    val missing = cols.filterNot(have)
    require(missing.isEmpty,
      s"graft fixture table '$table' is missing column(s) ${missing.mkString(", ")} " +
        s"— present: ${df.columns.mkString(", ")} (fixture schema drift?)")
    df
  }

  /** Split-starvation guard for CPU-heavy narrow pipelines: when the source
    * yields fewer input splits than cores — single-row-group parquet files,
    * gzip text, aggressive partition pruning — every per-row stage downstream
    * of the scan (shingle md5s, token explodes, vector arithmetic) serializes
    * onto that handful of cores while the rest of the cluster idles.
    * Round-robin repartition to the session's default parallelism buys full
    * CPU usage for one narrow shuffle of the (small, split-starved) input.
    * NO-OP when the scan already parallelizes (≥ cores splits) — at 100 TB
    * a table arrives as thousands of row groups and this never fires; the
    * partition count is read from the planned scan without running a job.
    */
  def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df else df.repartition(cores)
  }

  /** Like [[load]] but with engine-level type normalization applied —
    * currently the ns→µs truncation for `events.ts` (see
    * [[Fixture.events]]); every other table loads as-is.
    */
  def loadNormalized(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") Fixture(spark, sfDir).events
    else load(spark, sfDir, name)

  /** Convenience view of one scale-factor directory. */
  final case class Fixture(spark: SparkSession, sfDir: String) {
    def table(name: String): DataFrame = load(spark, sfDir, name)

    /** `events.ts` normalization, adaptive to how the fixture was written —
      * the generator has shipped both parquet TIMESTAMP(NANOS) and
      * TIMESTAMP(MICROS, isAdjustedToUTC=false) over time, and every
      * downstream operator expects one engine type: session-zoned
      * `TimestampType` at µs precision.
      *
      *  - int64 nanos (read as `LongType` under
      *    `spark.sql.legacy.parquet.nanosAsLong=true`, set by
      *    `Graft.session`, the one builder of every session the repo
      *    makes): truncate to µs with exact integer division (`DIV`, no
      *    double round-trip) — bit-identical to DuckDB's own ns→µs
      *    truncation of the same file.
      *  - `TIMESTAMP_NTZ` (µs, no zone): cast to `TimestampType`. The
      *    session timezone is pinned to UTC, so the micros value is
      *    unchanged and matches DuckDB's naive reading of the file.
      *  - already `TimestampType`: pass through.
      */
    def events: DataFrame = {
      val raw = requireColumns(table("events"), "events", "event_id", "ts", "user_id", "event_type", "value")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case org.apache.spark.sql.types.TimestampType => raw
        // any OTHER generation (string, int32, date…) is exactly the
        // correlated-failure drift these guards exist for: fail ONCE,
        // named, here — not as N downstream cast/analysis errors
        case other => throw new IllegalStateException(
          s"graft fixture table 'events' column 'ts' has unsupported type " +
            s"$other (known generations: int64 nanos, TIMESTAMP_NTZ µs, " +
            s"TIMESTAMP) — fixture schema drift: extend Fixture.events")
      }
    }
    /** The text and vector tables feed the CPU-dense per-row operators
      * (shingling, token stats, dot products), so they get the
      * [[Tables.spread]] guard; the relational tables keep their raw scan —
      * their narrow work is cheap and a pre-shuffle would cost more than it
      * buys.
      */
    def documents: DataFrame =
      spread(requireColumns(table("documents"), "documents",
        "doc_id", "text", "lang", "source", "n_chars"))
    def embeddings: DataFrame =
      spread(requireColumns(table("embeddings"), "embeddings",
        "vec_id", "embedding", "label"))
    def lineitem: DataFrame   = table("lineitem")
    def orders: DataFrame     = table("orders")
    def customer: DataFrame   = table("customer")
    def supplier: DataFrame   = table("supplier")
    def part: DataFrame       = table("part")
    def nation: DataFrame     = table("nation")
    def region: DataFrame     = table("region")
  }
}
