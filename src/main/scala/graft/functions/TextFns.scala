package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text/hash primitives for the [NS] training-data-pipeline operators
  * (SURVEY §2.10). All are codegen'd Catalyst built-ins — higher-order array
  * functions, `md5`, `conv` — no UDFs, so whole-stage codegen spans the hot
  * path and every expression has an exact DuckDB-SQL twin for the oracle.
  *
  * Portability discipline (hash-oracle parity with DuckDB):
  *  - the only hash primitive is md5 (identical algorithm in both engines);
  *    [[h60]] folds it to a 60-bit non-negative BIGINT via hex parse, which
  *    both engines do exactly (`conv(hex,16,10)` ≡ `CAST('0x'||hex AS
  *    BIGINT)`).
  *  - no decimal rounding of non-representable ratios (Spark rounds via
  *    exact BigDecimal HALF_UP, DuckDB via double-multiply + C `round` —
  *    they disagree near .005 boundaries). Ratios are emitted as exact
  *    integer math: `(100*a) DIV b`, or `floor(x*100)` of bit-identical
  *    doubles.
  *  - element access is always 1-based `element_at` (≡ DuckDB `l[i]`);
  *    array-distinct results are only ever reduced order-insensitively
  *    (min/size) because the two engines order distinct output differently.
  */
object TextFns {

  /** Lowercased whitespace tokens, empties dropped (leading-space artifacts
    * of `split` differ between engines; the filter normalizes both).
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Whitespace-robust HOF-free token count: the number of `\S+` runs —
    * exactly `tokens(text).size`, as one codegen'd `regexp_count`. This is
    * THE shared token-count primitive: Spark's `trim` strips ASCII spaces
    * only, so the earlier ad-hoc `trim` + `split` counts produced a
    * phantom leading token for any document edged with a tab/newline.
    * DuckDB twin: `len(list_filter(regexp_split_to_array(x,'\s+'), t -> t != ''))`
    * ≡ `len(regexp_extract_all(x, '\S+'))`.
    */
  def tokenCount(text: Column): Column =
    regexp_count(text, lit("\\S+")).cast("long")

  /** Lowercased text with every whitespace RUN collapsed to one ASCII
    * space and the edges removed (the `regexp_replace` turns ALL
    * whitespace into spaces first, so the trailing `trim` is exact). After
    * this, `split(_, " ")` yields the same empty-free token array as
    * [[tokens]] for any non-blank input — the whitespace-robust base for
    * every splitting hot path.
    */
  def wsNorm(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Portable 60-bit hash: first 15 hex chars of md5, parsed as BIGINT.
    * 60 bits keeps it non-negative and exact in both engines.
    */
  def h60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** JVM-side twin of [[h60]] — bit-identical (same md5-hex prefix parse),
    * for driver-side code that must hash the SAME way the plan does (e.g.
    * [[graft.operators.TextSearch]]'s query terms probing the stored
    * term-hash classes).
    */
  def h60Local(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Word 3-gram shingles over a token array (1-based `element_at`);
    * docs shorter than 3 tokens collapse to one whole-text shingle, empty
    * token lists to no shingles. Column-level twin of the row-based
    * `Dedup.shingleRows` (which is the hot-path form — this HOF version is
    * interpreted).
    */
  def shingles3(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      .when(size(toks) > 0, array(array_join(toks, " ")))
      .otherwise(array().cast("array<string>"))

  /** Distinct character n-grams of a string. */
  def charNgrams(s: Column, n: Int): Column =
    when(length(s) >= n,
      array_distinct(transform(sequence(lit(1), length(s) - (n - 1)), i => s.substr(i, lit(n)))))
      .otherwise(array(s))

  /** Exact Jaccard of two *distinct* arrays as an integer percentage —
    * `(100·|∩|) DIV |∪|` is exact integer math in both engines.
    */
  def jaccardPct(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("long")
    val union = size(array_union(a, b)).cast("long")
    // floor of a correctly-rounded double division of small ints ≡ integer
    // division (operands ≤1e7, error ≪ 1/union) — matches DuckDB `//`.
    floor((inter * 100) / union).cast("long")
  }

  /** Dot product of two numeric arrays in double precision — the native
    * codegen'd loop expression [[graft.expressions.DotProduct]]
    * (`graft_dot`, registered by [[graft.GraftExtensions]]; every entry
    * point of this library activates it). Accumulation is the sequential
    * left fold, bit-identical to both the HOF
    * `aggregate(zip_with(...), 0d, +)` form and DuckDB's `list_reduce`
    * over the same element order, so raw doubles compare/threshold across
    * engines without rounding — but the per-element work is a generated
    * `for` loop instead of an interpreted lambda.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, double precision, fold-order-deterministic.
    *
    * Why a fold and not an unrolled `element_at` multiply-add chain: a
    * d=64 chain is ONE expression tree, which whole-stage codegen cannot
    * split into methods — janino fails with "Code grows beyond 64 KB", the
    * entire stage silently falls back to interpreted eval, and every
    * unrolled variant measured 2–4× SLOWER than this fold at sf0.1
    * (pair scoring 5.5 s vs 1.6 s). The fold is also what gives exact
    * fold-order parity with the DuckDB oracle's `list_reduce`.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Marker-word score for language ID: how many tokens fall in the
    * language's function-word set.
    */
  def markerScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers))).cast("long")
}
