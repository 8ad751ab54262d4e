package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns._

/** Deterministic sampling and sequence-packing operators ([NS]) — the
  * dataset-construction steps between curation and training that the
  * reference (an audit pipeline) has no analog for, but any corpus-scale
  * consumer needs.
  *
  * All sampling here is HASH sampling, not `rand()`: `md5(key)` decides
  * membership, so a sample is (a) reproducible run-over-run, (b) stable
  * under repartitioning/retries (a `rand()` sample silently changes when a
  * task retries), and (c) consistent ACROSS tables — sampling two tables
  * by the same join key yields joinable samples. Every operator is a
  * narrow per-row filter/projection: no shuffle, no driver state, embeds
  * in any scan at 100 TB.
  */
object Sampling {

  private def keyHash(keyCol: Column): Column = h60(keyCol.cast("string"))

  /** Keep rows whose key hashes into `keep` of `mod` residue classes —
    * a deterministic `keep/mod` fraction.
    */
  def sampleByHash(df: DataFrame, keyCol: String, mod: Int, keep: Int): DataFrame = {
    require(mod > 0 && keep >= 0 && keep <= mod, s"need 0 <= keep <= mod, got $keep/$mod")
    df.filter(keyHash(col(keyCol)) % mod < keep)
  }

  /** Stratified hash sampling: per-stratum keep-percentages (0–100), with
    * `defaultPct` for strata not in the map. The rate lookup is a literal
    * map — no join, still one narrow pass.
    */
  def sampleStratified(
      df: DataFrame, stratCol: String, keyCol: String,
      pctByStratum: Map[String, Int], defaultPct: Int): DataFrame = {
    val pct = pctByStratum.foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
      when(col(stratCol) === s, lit(p)).otherwise(acc)
    }
    df.filter(keyHash(col(keyCol)) % 100 < pct)
  }

  /** PRIORITY SAMPLING (Duffield, Lund & Thorup 2007) — the weighted
    * without-replacement sample DSIR-style importance RESAMPLING needs
    * (Xie et al. 2023 select the training subset by importance weight;
    * scoring is [[graft.operators.Curation.dsirScore]], this is the
    * selection step): each row draws priority `(w·M) DIV u` where `u` is
    * its deterministic md5-uniform in [1, M] (M = 2²⁰), and the sample
    * is the top-`n` priorities. High-weight rows dominate (priority
    * scales with w) but low-weight rows still enter when their u is
    * small — the "proportional-ish without replacement" shape a weighted
    * Bernoulli filter can't give at a FIXED output size. Integer-exact
    * end to end (no float pow/log — Efraimidis-Spirakis' u^(1/w) keys
    * are banned by the no-float-log rule; the priority form is the
    * standard integer-friendly equivalent), so the sample is
    * reproducible, retry-stable, and oracle-checkable.
    *
    * Zero/negative weights never sample (filtered, documented): a
    * weight's sign carries no sampling meaning — shift scores to a
    * non-negative scale first (e.g. `greatest(dsir_score, 0)`).
    *
    * Scale shape: one narrow projection + `TakeOrderedAndProject` —
    * no shuffle, no window, driver holds n rows.
    */
  def importanceSample(df: DataFrame, weightCol: String, keyCol: String,
                       n: Int): DataFrame = {
    require(n > 0, s"sample size $n must be positive")
    val M = 1048576L // 2^20
    // weight re-projected to an internal name: caller column names are
    // DATA and must never be rendered into SQL text (the funnel lesson).
    // Weights are INTEGER by contract (scores here are integer-scaled
    // repo-wide); the filter runs on the floored value so a fractional
    // weight in (0,1) cannot slip through as priority 0. The product
    // widens to DECIMAL(38,0): w·2^20 wraps BIGINT past w ≈ 2^43 with
    // ANSI off — the silent-wrap class the collocations lift fix closed.
    // Weights past the 2^43 bound RAISE instead of wrapping at the final
    // BIGINT cast.
    val maxW = Long.MaxValue >> 20
    df.withColumn("__w", col(weightCol).cast("long"))
      .filter(col("__w") > 0L)
      .withColumn("__u", pmod(keyHash(col(keyCol)), lit(M)) + 1L)
      .withColumn("priority",
        expr(s"CASE WHEN __w > ${maxW}L THEN CAST(raise_error(CONCAT(" +
          s"'importanceSample weight ', __w, ' exceeds the 2^43 priority " +
          s"bound (would wrap)')) AS BIGINT) " +
          s"ELSE CAST((CAST(__w AS DECIMAL(38,0)) * $M) DIV __u AS BIGINT) END"))
      .drop("__u", "__w")
      .orderBy(col("priority").desc, col(keyCol))
      .limit(n)
  }

  /** Deterministic named-fraction SPLIT (train/val/test): every row gets
    * exactly one split label by hash bucket — `splits` are (name, pct)
    * with pcts summing to ≤ 100 (the remainder falls to the LAST split,
    * so the assignment is exhaustive). Unlike [[sampleByHash]] (a
    * membership filter) this is a labeled PARTITION of the corpus:
    * split(k) ∩ split(j) = ∅ by construction, stable under retries and
    * across tables sharing the key, and adding rows never moves an
    * existing row between splits (the hash doesn't depend on the data
    * around it) — the property a `rand()` split loses on every rerun.
    * One narrow projection; no shuffle.
    */
  def assignSplit(df: DataFrame, keyCol: String,
                  splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).forall(_ >= 0)
      && splits.map(_._2).sum <= 100,
      s"split pcts must be >= 0 and sum to <= 100: $splits")
    require(splits.map(_._1).distinct.size == splits.size,
      s"split names must be distinct: $splits")
    val bucket = keyHash(col(keyCol)) % 100L
    // cumulative upper bounds; the last split absorbs the remainder
    val bounds = splits.scanLeft(0)(_ + _._2).tail
    val assign = splits.init.zip(bounds.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), hi), acc) =>
      when(bucket < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("split", assign)
  }

  /** Greedy sequence packing: assign each document to a training bin of
    * ~`tokenBudget` tokens, packing in id order WITHIN each shard. The bin
    * is where the document STARTS in the shard's running token count —
    * exact integer math (`cumsum-before DIV budget`), so bins are
    * deterministic and oracle-checkable. Documents longer than the budget
    * spill over their bin boundary (the standard greedy concat-and-chunk
    * packing); a strict no-split packer is a stateful per-bin scan, which
    * is what the shard column exists to parallelize.
    *
    * Scale shape: ONE window per shard (`partitionBy(shard) orderBy(id)`)
    * — the shard key bounds every sort/cumsum to a partition; an unsharded
    * global pack would serialize into a single task at 100 TB.
    */
  def packSequences(
      docs: DataFrame, textCol: String, idCol: String, shardCol: String,
      tokenBudget: Int): DataFrame = {
    require(tokenBudget > 0)
    val nTokens = tokenCount(col(textCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
    docs
      .withColumn("n_tokens", nTokens)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col(idCol), col(shardCol), col("n_tokens"), col("cum_tokens"),
        expr(s"(cum_tokens - n_tokens) DIV $tokenBudget").as("bin"))
  }

  /** Deterministic corpus SHUFFLE-AND-SHARD — the last step before a
    * training run: a global pseudo-random document order that is stable
    * across retries and re-runs (training must be able to resume at an
    * exact position), materialized as `(shard, pos)` so readers stream
    * shards independently.
    *
    * The "shuffle" is the md5 order: `h = h60(id)` is both the shard
    * assignment (`h % nShards` — uniform, key-deterministic) and the
    * within-shard sort key, so consecutive input ids land in unrelated
    * shards at unrelated positions, which is exactly the decorrelation a
    * training loader needs. A `rand()`-keyed sort would reshuffle on every
    * task retry; `orderBy(rand)` also cannot be resumed or oracled.
    *
    * Scale shape: ONE hash exchange on the shard key plus a per-shard
    * sort (`Window.partitionBy(shard)` — no global sort, no single-task
    * serialization; shard count chosen ≫ executor count amortizes the
    * sort). The id-tiebreak makes `pos` total even under h60 collisions.
    */
  def shuffleShard(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col(idCol))
    df.select(col(idCol), keyHash(col(idCol)).as("h"))
      .withColumn("shard", (col("h") % nShards).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Per-source QUOTA cap — the domain-balancing step of web-corpus
    * curation (a handful of giant domains otherwise dominate the token
    * count): keep at most `cap` documents per `keyCol` group, chosen in
    * the group's md5(id) pseudo-random order so the kept subset is an
    * unbiased, reproducible, retry-stable sample of the group (a "first N
    * by id" cap would keep the crawl-order head, which skews old).
    * Hash-order prefixes nest: raising the cap extends every group's kept
    * set without resampling what a previous run shipped — the same
    * grow-without-invalidating property as [[mixtureByTokenBudget]].
    *
    * Scale shape: ONE window per group (`partitionBy(key) orderBy(h, id)`)
    * — no global sort; group skew is the shuffle's only hazard and the cap
    * itself bounds what survives downstream.
    */
  def sourceCap(df: DataFrame, keyCol: String, idCol: String, cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("h"), col(idCol))
    df.select(col(idCol), col(keyCol), keyHash(col(idCol)).as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
      .select(col(idCol), col(keyCol), col("rk"))
  }

  /** Fixed-size token CHUNKING with stride — the long-document split every
    * training pipeline runs before packing (context windows are finite;
    * discarding past-window tokens wastes data): document `d` with `n`
    * whitespace tokens yields chunks starting at token `1, 1+stride,
    * 1+2·stride, …`, each `chunkTokens` long (the last possibly shorter),
    * so consecutive chunks overlap by `chunkTokens - stride` tokens of
    * context. Chunk count is exact integer math:
    * `(max(n - chunkTokens, 0) + stride - 1) DIV stride + 1` for n > 0 —
    * deterministic, oracle-checkable, and every token is covered.
    *
    * Scale shape: a narrow per-row `transform` + `posexplode` — the corpus
    * never shuffles; output size is `~n/stride` rows per doc, each
    * carrying its chunk text (a production run would write chunks
    * partitioned by shard; the token slice is recomputable from
    * `(doc_id, chunk_id)` so chunk text can also be dropped in favor of
    * offsets).
    */
  def chunkDocs(docs: DataFrame, textCol: String, idCol: String,
                chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      s"need 0 < stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    val norm = wsNorm(col(textCol))
    val toks = split(norm, " ")
    val n = size(toks)
    // Spark's sequence(1, 0) DESCENDS ([1,0]) instead of yielding empty —
    // blank docs must take the empty-array branch, never the sequence
    val nChunks = floor((greatest(n - chunkTokens, lit(0)) + (stride - 1)) / stride)
      .cast("int") + 1
    docs
      .select(col(idCol),
        when(norm === "", array().cast("array<int>"))
          .otherwise(sequence(lit(1), nChunks)).as("ks"),
        toks.as("toks"), n.as("n"))
      .select(col(idCol), col("toks"), col("n"),
        posexplode(col("ks")).as(Seq("p", "k")))
      .select(col(idCol), col("k").cast("long").as("chunk_id"),
        least(lit(chunkTokens), col("n") - (col("k") - 1) * stride).cast("long")
          .as("n_tok"),
        array_join(slice(col("toks"),
          (col("k") - 1) * stride + 1, lit(chunkTokens)), " ").as("chunk_text"))
  }

  /** QUALITY-WEIGHTED hash sampling — higher-quality documents survive at
    * a higher rate (the DCLM/FineWeb-style move from hard quality cutoffs
    * to soft resampling, which keeps tail diversity a hard filter
    * destroys): a doc's keep-percentage scales linearly with its
    * [[TextAnalysis.qualityScore]] (integer math:
    * `keep_pct = (score · maxPct) DIV 1000`, score ∈ [0, 1000]), and
    * membership stays the deterministic md5 rule, so the sample is
    * reproducible, retry-stable, and nests as `maxPct` grows. One narrow
    * pass: scoring appends columns scan-side, no shuffle anywhere.
    */
  def sampleByQuality(docs: DataFrame, textCol: String, idCol: String,
                      maxPct: Int): DataFrame = {
    require(maxPct >= 0 && maxPct <= 100, s"maxPct must be in 0..100, got $maxPct")
    TextAnalysis.qualityScore(docs, textCol, idCol)
      .withColumn("keep_pct", expr(s"(score * $maxPct) DIV 1000"))
      .filter(keyHash(col(idCol)) % 100 < col("keep_pct"))
      .select(col(idCol), col("score"), col("keep_pct"))
  }

  /** Deterministic MIXTURE sampling to a token budget — the data-mixing
    * step that turns per-source weights ("books 30%, web 60%, code 10%")
    * into an actual training set: each source contributes greedily, in its
    * md5(id) pseudo-random order, until its share (`permille/1000 ·
    * totalBudget` tokens) is reached. A doc is kept iff it STARTS inside
    * its source's share (same greedy boundary rule as [[packSequences]]),
    * so membership is exact integer math — reproducible, retry-stable, and
    * oracle-checkable; re-running with a bigger budget EXTENDS the sample
    * (hash-order prefixes nest, so mixtures can be grown without
    * resampling what a previous run already shipped).
    *
    * Scale shape: one narrow token-count pass, then ONE window per source
    * (`partitionBy(source) orderBy(h, id)`) — the per-source cumsum
    * parallelizes across sources and never global-sorts; sources absent
    * from the map take `defaultPermille`.
    */
  def mixtureByTokenBudget(
      docs: DataFrame, textCol: String, idCol: String, sourceCol: String,
      permilleBySource: Map[String, Int], totalBudget: Long,
      defaultPermille: Int = 0): DataFrame = {
    require(totalBudget > 0 && totalBudget % 1000L == 0L,
      "totalBudget must be a positive multiple of 1000 so per-source shares are exact integers")
    require(defaultPermille >= 0 && permilleBySource.values.forall(_ >= 0),
      "permille weights must be >= 0")
    val permille = permilleBySource.foldLeft(lit(defaultPermille)) {
      case (acc, (s, p)) => when(col(sourceCol) === s, lit(p)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(col("h"), col(idCol))
    docs
      .select(col(idCol), col(sourceCol), keyHash(col(idCol)).as("h"),
        tokenCount(col(textCol)).as("n_tokens"),
        (permille.cast("long") * (totalBudget / 1000L)).as("budget"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < col("budget"))
      .select(col(idCol), col(sourceCol), col("n_tokens"), col("cum_tokens"))
  }

  /** CLUSTER-STRATIFIED embedding sampling — the diversity-preserving
    * subset selection step of semantic curation (the sampling half of
    * SemDeDup/DSIR-style pipelines): assign every vector to its
    * nearest-cosine seed ("cluster"), then keep a fixed `quota` per
    * cluster by deterministic hash rank. A plain hash sample of a skewed
    * corpus reproduces the skew; quota-per-cluster keeps the tails.
    *
    * Assignment is the [[Curation.decontaminateSemantic]] literal-matrix
    * pattern: the seed vectors ride into the plan as a literal (driver
    * state bounded by `maxSeeds`, KB–MB scale), each corpus vector scores
    * all seeds in ONE codegen'd fold (`graft_dot`) — the corpus never
    * shuffles for assignment. Ties (bit-equal cosines, possible because
    * the fold is bit-deterministic) break to the LOWEST seed id: the fold
    * iterates seeds in ascending-id order with a strict `>`.
    *
    * The per-cluster quota is ONE shuffle keyed by cluster + a rank
    * filter; Spark ≥3.5 rewrites `row_number <= k` into a
    * WindowGroupLimit, so each map partition forwards at most `quota`
    * rows per cluster — the exchange carries O(partitions·k·quota), not
    * the corpus. Zero-norm vectors have no cosine to any seed and are
    * excluded (same contract as the ANN index stores, stated here).
    *
    * Output: `(cluster_id, <idCol>, r)` — the kept sample with its
    * cluster label and 1-based rank, ordered (cluster_id, id).
    */
  def clusterSample(
      emb: DataFrame, seeds: DataFrame, idCol: String, vecCol: String,
      quota: Int, maxSeeds: Int = 10000): DataFrame = {
    require(quota > 0, s"quota must be positive, got $quota")
    def dotF(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val seedRows = seeds.select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .filter { case (_, v) => dotF(v, v) > 0 }
      .sortBy(_._1)
    require(seedRows.nonEmpty, "clusterSample needs at least one non-zero seed")
    require(seedRows.length <= maxSeeds,
      s"${seedRows.length} seeds > maxSeeds=$maxSeeds — train centroids instead of literal seeds")
    val mat = typedlit(seedRows.map(_._2.toSeq).toSeq)
    val norms = typedlit(seedRows.map(s => math.sqrt(dotF(s._2, s._2))).toSeq)
    val sids = typedlit(seedRows.map(_._1).toSeq)
    val n = seedRows.length
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("__h").asc, col(idCol).asc)
    emb
      .filter(dot(col(vecCol), col(vecCol)) > 0)
      .withColumn("__nv", l2norm(col(vecCol)))
      .withColumn("__best",
        aggregate(
          sequence(lit(0), lit(n - 1)),
          struct(lit(-2.0d).as("s"), lit(-1).as("i")),
          (acc, j) => {
            val s = dot(col(vecCol), element_at(mat, j + 1)) /
              (col("__nv") * element_at(norms, j + 1))
            when(s > acc.getField("s"), struct(s.as("s"), j.as("i")))
              .otherwise(acc)
          }))
      .withColumn("cluster_id", element_at(sids, col("__best.i") + 1))
      .withColumn("__h", keyHash(col(idCol)))
      .withColumn("r", row_number().over(w).cast("long"))
      .filter(col("r") <= quota)
      .select(col("cluster_id"), col(idCol), col("r"))
      .orderBy(col("cluster_id"), col(idCol))
  }
}
