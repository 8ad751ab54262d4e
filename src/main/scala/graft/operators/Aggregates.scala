package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY §2.4).
  *
  * The reference's aggregates are trivial app-side counters
  * (`reference/src/routes/audit.routes.ts:47`, CloudWatch batch counters at
  * `reference/src/lambda/processQueue.ts:256-281`) plus the benchmark's
  * latency rollups (`reference/src/scripts/benchmark.ts:39-54`). Here they
  * are declarative hash aggregates: Spark plans partial (map-side) + final
  * aggregation automatically, so at 100 TB only one shuffle of
  * already-combined per-partition states crosses the wire.
  *
  * Determinism discipline for the DuckDB oracle: float aggregates are
  * rounded to 2 dp (summation order differs between engines) and every
  * result ends in a total order.
  */
object Aggregates {

  /** `count: results.length` (A1). */
  def countAll(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("cnt"))

  /** Per-group counters (A2) — the CloudWatch metric shape. */
  def groupCount(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("cnt")).orderBy(col(key))

  /** min/avg/max rollup (A3) — the benchmark's latency report shape. */
  def minAvgMax(df: DataFrame, key: String, v: String): DataFrame =
    df.groupBy(col(key)).agg(
      round(min(col(v)), 2).as("min_v"),
      round(avg(col(v)), 2).as("avg_v"),
      round(max(col(v)), 2).as("max_v")
    ).orderBy(col(key))

  /** Exact interpolated percentiles (A4) — Spark's `percentile` matches
    * DuckDB `quantile_cont` (both linear interpolation). `percentile_approx`
    * is the 100 TB-scale variant (single-pass sketch) but is not
    * hash-comparable, so the declared query uses the exact form.
    */
  def percentiles(df: DataFrame, key: String, v: String): DataFrame =
    // percentile(Column, Column), not a rendered SQL fragment: the value
    // column is a caller NAME and must never re-enter the parser
    df.groupBy(col(key)).agg(
      round(percentile(col(v), lit(0.5)), 2).as("p50"),
      round(percentile(col(v), lit(0.9)), 2).as("p90"),
      round(percentile(col(v), lit(0.99)), 2).as("p99")
    ).orderBy(col(key))

  /** Distinct projection (A5) — txn-uniqueness semantics of the reference's
    * update-join (`processQueue.ts:230-238`).
    */
  def distinctOf(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct().orderBy(cols.map(col): _*)

  /** ROLLUP (A7): hierarchical subtotals; NULL-filled grouping levels sorted
    * NULLS FIRST on both engines for hash parity.
    */
  def rollupSum(df: DataFrame, k1: String, k2: String, v: String): DataFrame =
    df.rollup(col(k1), col(k2)).agg(
      round(sum(col(v)), 2).as("sum_v"),
      count(lit(1)).as("cnt")
    ).orderBy(col(k1).asc_nulls_first, col(k2).asc_nulls_first)

  /** TPC-H Q1 shape (A8): the partial+final agg scale exercise. */
  def pricingSummary(lineitem: DataFrame, cutoff: String): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf(cutoff)))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_discount")), 2).as("avg_disc"),
        count(lit(1)).as("cnt")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** CUBE: all grouping-set combinations (A7 companion to rollup). */
  def cubeSum(df: DataFrame, k1: String, k2: String, v: String): DataFrame =
    df.cube(col(k1), col(k2)).agg(
      round(sum(col(v)), 2).as("sum_v"),
      count(lit(1)).as("cnt")
    ).orderBy(col(k1).asc_nulls_first, col(k2).asc_nulls_first)

  /** PIVOT: one column per pivot value (values listed explicitly — required
    * for a deterministic schema, and at scale it avoids the extra distinct
    * scan Spark otherwise runs to discover them). Missing combinations
    * coalesce to 0 like the conditional-aggregation SQL equivalent.
    */
  def pivotCount(df: DataFrame, key: String, pivotCol: String, values: Seq[String]): DataFrame =
    df.groupBy(col(key)).pivot(pivotCol, values).agg(count(lit(1)))
      // pivot VALUES are caller DATA that became column names — quote
      // with backtick-doubling or a value containing ` throws at parse
      .select(col(key) +: values.map(v =>
        coalesce(col(s"`${v.replace("`", "``")}`"), lit(0L)).as(v)): _*)
      .orderBy(col(key))

  /** Approx count-distinct (A6) — HLL++; the only sane distinct at 100 TB.
    * Smoke-only (approx ⇒ no hash oracle).
    */
  def approxDistinct(df: DataFrame, c: String): DataFrame =
    df.agg(approx_count_distinct(col(c)).as("approx_nd"))

  /** Approx percentiles — the single-pass sketch variant of
    * [[percentiles]] for the 100 TB path (exact `percentile` buffers every
    * value per group; `percentile_approx` keeps a bounded sketch).
    * Smoke-only (approx ⇒ no hash oracle).
    */
  def approxPercentiles(df: DataFrame, key: String, v: String, accuracy: Int = 10000): DataFrame =
    df.groupBy(col(key)).agg(
      percentile_approx(col(v), lit(0.5), lit(accuracy)).as("p50"),
      percentile_approx(col(v), lit(0.9), lit(accuracy)).as("p90"),
      percentile_approx(col(v), lit(0.99), lit(accuracy)).as("p99")
    ).orderBy(col(key))

  /** BOTTOM-k HASH SAMPLE quantiles — the DETERMINISTIC mergeable
    * quantile sketch the float sketches can't give a hash oracle for:
    * each group's sample is the `k` rows with the SMALLEST md5 key
    * hashes (a uniform sample — md5 is key-equidistributed — that is
    * reproducible, retry-stable, and MERGEABLE: bottom-k of a union ≡
    * bottom-k of merged bottom-ks, the classic KMV identity, spec-pinned
    * EXACTLY here because the hash makes both sides deterministic), and
    * the quantile estimate is the exact interpolated percentile of the
    * sample. vs [[percentiles]]: exact buffers EVERY value per group —
    * this bounds per-group state at k rows. vs [[approxPercentiles]]:
    * percentile_approx's sketch is neither deterministic nor
    * oracle-expressible; this one re-derives bit-identically in DuckDB
    * (same sample membership, same quantile_cont interpolation).
    *
    * Plan: rank ≤ k under (hash, key) per group compiles to
    * WindowGroupLimit (map-side per-partition top-k BEFORE the
    * exchange — the wire carries ≤ k·partitions rows per group, not the
    * group), then one ≤k-row percentile per group. Error is the uniform-
    * sampling quantile error O(1/√k) — k=64 ⇒ ~±6 percentile points,
    * fine for the monitoring/report role; raise k for tighter bands.
    */
  /** The bottom-k sample itself (all input columns) — the MERGEABLE
    * sketch state: `kmhSample(A ∪ B) ≡ kmhSample(kmhSample(A) ∪
    * kmhSample(B))` exactly (KMV identity over a deterministic hash;
    * spec-pinned), so per-partition/per-day samples roll up without
    * rescanning raw data, like [[hllSketches]].
    */
  def kmhSample(df: DataFrame, key: String, idCol: String, k: Int): DataFrame = {
    require(k > 0 && k <= 65536, s"k=$k out of (0, 65536]")
    import graft.functions.TextFns.h60
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key))
      .orderBy(h60(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  def kmhQuantiles(df: DataFrame, key: String, idCol: String, v: String,
                   k: Int = 64): DataFrame =
    kmhSample(df, key, idCol, k)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_sample"),
        round(percentile(col(v), lit(0.5)), 2).as("p50_est"),
        round(percentile(col(v), lit(0.9)), 2).as("p90_est"))
      .orderBy(col(key))

  /** MERGEABLE distinct-count sketches (Datasketches HLL, built into
    * Spark): one binary sketch per group, re-aggregable later. This is the
    * 100 TB distinct-count pattern [[approxDistinct]] can't give you — a
    * per-day/per-partition sketch table is computed ONCE, and any rollup
    * (weekly, all-time, per-tenant) is a cheap `hll_union_agg` over KB
    * sketches instead of a re-scan of the raw data. Register merge is a
    * max — commutative and idempotent, so estimates are order- and
    * retry-independent.
    */
  def hllSketches(df: DataFrame, key: String, v: String): DataFrame =
    df.groupBy(col(key))
      .agg(hll_sketch_agg(col(v)).as("sketch"))
      .select(col(key), col("sketch"),
        hll_sketch_estimate(col("sketch")).as("estimate"))

  /** Roll partial sketches up to one estimate — the merge side of
    * [[hllSketches]]. */
  def hllRollup(sketches: DataFrame): DataFrame =
    sketches.agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("estimate"))

  /** MERGEABLE frequency sketches (count–min, built into Spark): one
    * binary CMS per group, the frequency-side sibling of [[hllSketches]]
    * — per-partition sketches computed once, any rollup merged without
    * rescanning raw data. Counter updates are sums, so the sketch is
    * order- and retry-independent given the fixed seed; estimates
    * overcount only (never under), by at most eps·N with the configured
    * confidence — the right direction for heavy-hitter screening (no
    * heavy item is ever missed). At 100 TB: the sketch size is
    * `ceil(e/eps) × ceil(ln(1/(1−confidence)))` counters regardless of
    * key cardinality, where an exact per-token count is a corpus-wide
    * shuffle.
    *
    * Blobs built under differing (eps, confidence, seed) throw
    * `IncompatibleMergeException` at merge time, so every sketch that is
    * to be merged must use the same three values. Default 1e-3 ⇒
    * ~110 KB/blob (1e-4 was 10× that for a 10× tighter bound few callers
    * need; rounds ≤ 13 shipped 1e-4 — blobs persisted under the old
    * default only merge with new blobs built with an explicit
    * `eps = 0.0001`).
    */
  def cmsSketches(df: DataFrame, key: String, v: String,
                  eps: Double = 0.001, confidence: Double = 0.99): DataFrame =
    df.groupBy(col(key))
      // Column-API form of the same expression: caller names never enter
      // the parser
      .agg(count_min_sketch(col(v), lit(eps), lit(confidence), lit(42)).as("sketch"))

  /** Driver-side merge + probe of [[cmsSketches]] blobs via Spark's public
    * `CountMinSketch` codec: total frequency estimates for `items` across
    * all groups. The blobs are KBs each (bounded by eps/confidence, not by
    * data volume), so the collect is sketch-count-bounded — the same
    * driver-holds-KBs contract as the IVF centroids.
    */
  def cmsProbe(sketches: DataFrame, items: Seq[Any]): Map[Any, Long] = {
    import org.apache.spark.util.sketch.CountMinSketch
    val blobs = sketches.select(col("sketch")).collect()
      .map(r => CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0))))
    require(blobs.nonEmpty, "no sketches to probe")
    val merged = blobs.reduce { (a, b) => a.mergeInPlace(b); a }
    items.map(i => i -> merged.estimateCount(i)).toMap
  }

  /** Dataset PROFILE — the ANALYZE-TABLE surface: one row per requested
    * column with row count, null count, exact distinct count, and
    * min/max (as strings, so one schema fits every column type). ONE scan
    * computes every metric (all aggregates ride a single aggregation;
    * the per-column distincts share the one Expand), then a `stack`
    * unpivots the single metrics row into per-column rows — profiling N
    * columns costs one pass, not N.
    *
    * Exact distincts keep the profile oracle-checkable; at 100 TB swap
    * `countDistinct` for `approx_count_distinct` (same shape, no Expand)
    * — the sketch estimates are what ANALYZE stores anyway.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    // caller names ride as lit()/QUOTED references, never as rendered SQL
    // text or bare col() lookups (a name with ` fails attribute parsing
    // unquoted; one with ' broke the old stack() string)
    def q(n: String): Column = col("`" + n.replace("`", "``") + "`")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c => Seq(
      count(q(c)).as(s"${c}__nn"),
      countDistinct(q(c)).as(s"${c}__nd"),
      min(q(c)).cast("string").as(s"${c}__min"),
      max(q(c)).cast("string").as(s"${c}__max"))
    }
    val pRows = cols.map(c => struct(
      lit(c).as("column_name"), col("n_rows").as("n_rows"),
      q(s"${c}__nn").as("n_nonnull"), q(s"${c}__nd").as("n_distinct"),
      q(s"${c}__min").as("min_val"), q(s"${c}__max").as("max_val")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pRows: _*)).as("p"))
      .select(col("p.column_name").as("column_name"), col("p.n_rows").as("n_rows"),
        (col("p.n_rows") - col("p.n_nonnull")).as("n_nulls"),
        col("p.n_distinct").as("n_distinct"),
        col("p.min_val").as("min_val"), col("p.max_val").as("max_val"))
      .orderBy("column_name")
  }
}
