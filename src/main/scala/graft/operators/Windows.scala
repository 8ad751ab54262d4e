package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window operators (SURVEY §2.5).
  *
  * The reference has no window functions; these generalize its two
  * window-shaped behaviors — "newest first, cap 100"
  * (`reference/src/services/audit.services.ts:161-162`) per key, and
  * cumulative batch accounting (`reference/src/lambda/processQueue.ts:50,
  * 245-248`). Partitioned windows shuffle once on the partition key and then
  * sort within partitions — at 100 TB the key must be high-cardinality
  * enough to spread (user_id is; a constant key would funnel everything to
  * one task).
  */
object Windows {

  /** W1: latest-N per key via row_number. */
  def topNPerKey(df: DataFrame, key: String, ts: String, tiebreak: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts).desc, col(tiebreak).desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** W2: running (prefix) aggregate per key. ROWS UNBOUNDED PRECEDING makes
    * the fold order — and hence float results — deterministic.
    */
  def runningSum(df: DataFrame, key: String, ts: String, tiebreak: String, v: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("running_v", round(sum(col(v)).over(w), 2))
  }

  /** W3: lag + inter-event delta in exact integer microseconds (float-free
    * for hash parity; DuckDB `epoch_us` ≡ Spark `unix_micros`).
    */
  def interEventDelta(df: DataFrame, key: String, ts: String, tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    df.withColumn("prev_ts", lag(col(ts), 1).over(w))
      .withColumn("delta_us", unix_micros(col(ts)) - unix_micros(col("prev_ts")))
  }

  /** Batch sessionization (gaps-and-islands): a new session starts when the
    * gap to the previous event exceeds `gapSeconds`. Two window passes over
    * ONE (key, ts) sort — lag for the gap flag, running sum for the session
    * id — then a hash aggregation per session.
    */
  def sessionAgg(df: DataFrame, key: String, ts: String, tiebreak: String,
                 gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("delta_us", unix_micros(col(ts)) - unix_micros(lag(col(ts), 1).over(w)))
      .withColumn("new_sess",
        when(col("delta_us").isNull || col("delta_us") > gapSeconds * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(run))
      .groupBy(col(key), col("session_id"))
      .agg(min(col(ts)).as("session_start"), max(col(ts)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** TIME-RANGE sliding window (RangeFrame, not RowFrame — every other
    * window here counts ROWS; this one bounds by the ORDER-BY VALUE):
    * per key, aggregates over the trailing `rangeSeconds` of EVENT TIME
    * ending at each row. Ordered by µs epoch so the frame bound is
    * integer-exact; rows sharing a µs timestamp are all inside each
    * other's frame (RANGE peers), so the result is independent of tie
    * order. Emitted aggregates are order-independent exact values
    * (count, Σ floor(value) in BIGINT, max) — a float running sum would
    * be fold-order-sensitive across engines. One keyed sort exchange,
    * same as any window; Spark evaluates the sliding frame with two
    * pointers, not O(n·frame).
    */
  def timeRangeAgg(df: DataFrame, key: String, ts: String, valueCol: String,
                   rangeSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(unix_micros(col(ts)))
      .rangeBetween(-rangeSeconds * 1000000L, 0L)
    df.withColumn("cnt_w", count(lit(1)).over(w))
      .withColumn("sumfloor_w", sum(floor(col(valueCol)).cast("long")).over(w))
      .withColumn("max_w", max(col(valueCol)).over(w))
  }

  /** R7 batch analog: tumbling time window via the real streaming-capable
    * `window()` expression (epoch-aligned, so 1-hour buckets ≡
    * `date_trunc('hour', ts)`).
    */
  def tumbling(df: DataFrame, ts: String, width: String, aggs: Seq[Column]): DataFrame = {
    val g = df.groupBy(window(col(ts), width)).agg(aggs.head, aggs.tail: _*)
    val others = g.columns.filter(_ != "window").map(col).toSeq
    g.select(col("window.start").as("window_start") +: others: _*)
  }
}
